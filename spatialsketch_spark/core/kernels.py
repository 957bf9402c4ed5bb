"""Mergeable synopsis kernels, numpy-vectorized over *groups of cells*.

Each kernel turns a batch of events that share a grid — arrays
``(cell_keys, items, values, ts)`` — into per-cell sketch states, merges
states (commutative, associative — the property that makes the
map-side-combined Spark build exact), serializes states for the sketch
table's BinaryType payload column, and answers the reference's query
kinds.

Reference kernels being re-expressed:
- CountMin insert/query/merge/L2: CountMin.cpp:122-158, 184-194, 196-215
- FM insert/estimate/merge:       FM.cpp:102-148, 154-172
- Bloom insert/query:             BloomFilter.cpp:80-125
- ECM insert/HistSum/merge:       ECM.cpp:89-137, 254-282, 316-348
- dyadic CM over item domain:     DyadCountMin.cpp:37-104

``exact`` is the collision-free oracle-mode backend (identity-hash CM /
1-bit-per-item FM / BF degenerate cases are all equivalent to keeping the
exact per-cell event multiset): it answers every query kind exactly and
is what the driver's DuckDB correctness gate runs against.
"""

from __future__ import annotations

import bisect
import pickle

import numpy as np

from .hashing import coefficients, hash_items, trailing_zeros, MERSENNE_P

FM_PHI = 0.77351  # FM.cpp:135-148 estimator constant (x1.2928 = 1/phi)


def int_group_sum(idx: np.ndarray, weights: np.ndarray, n: int) -> np.ndarray:
    """Exact int64 grouped sum (np.bincount with float64 weights loses
    exactness past 2^53; the exact-mode paths must not)."""
    out = np.zeros(n, dtype=np.int64)
    np.add.at(out, idx, weights.astype(np.int64))
    return out


def _canon(obj):
    """Canonicalize a kernel state for deterministic pickling: arrays
    that went through pickle.loads carry dtype instances created with
    copy=True (numpy's dtype.__reduce__), which are equal to but not
    identical with the interned dtype singletons — pickle memoizes by
    identity, so a merged-then-reserialized state would otherwise differ
    byte-wise from a directly-built one with identical content (breaks
    the merge_events bit-for-bit contract)."""
    if isinstance(obj, np.ndarray) and obj.dtype.kind != "O":
        return np.ascontiguousarray(obj).view(np.dtype(obj.dtype.str))
    if isinstance(obj, dict):
        return {k: _canon(v) for k, v in obj.items()}
    if isinstance(obj, tuple):
        return tuple(_canon(v) for v in obj)
    if isinstance(obj, list):
        return [_canon(v) for v in obj]
    return obj


class BaseKernel:
    kind = "base"

    def serialize(self, state) -> bytes:
        return pickle.dumps(_canon(state), protocol=4)

    def deserialize(self, blob: bytes):
        return pickle.loads(blob)

    def encode_batch(self, states) -> tuple[np.ndarray, np.ndarray]:
        """Payloads of ``states`` as one binary column buffer pair: int64
        ``offsets`` (``len(states) + 1`` entries, from 0) and uint8
        ``data``, where ``data[offsets[i]:offsets[i + 1]]`` is
        ``serialize(states[i])``. Kernels with a fixed-layout codec
        override this with a vectorized encoder."""
        blobs = [self.serialize(s) for s in states]
        offsets = np.zeros(len(blobs) + 1, dtype=np.int64)
        offsets[1:] = np.cumsum([len(b) for b in blobs], dtype=np.int64)
        return offsets, np.frombuffer(b"".join(blobs), dtype=np.uint8)

    # --- interface ---
    def build_grouped(self, cell_keys, items, values, ts):
        """-> (unique_cell_keys: int64[], states: list)"""
        raise NotImplementedError

    def prep_batch(self, items, values, ts):
        """Once-per-batch precomputation reusable across every grid
        level of a partial build. Item hashes depend only on the item
        column, not the grid, so hashing the batch once saves a
        hash_items round per level (81 levels on the default pyramid —
        measured 0.68 s/200k-row task before, guide §1.2/§4.2)."""
        return None

    # Kernels that can fold a batch from (uc, inv) group labels without
    # re-sorting override this; the partial builder then hands them the
    # group labels its pyramid grouping already computed for each grid,
    # and no kernel sorts the batch again.
    build_from_groups = None

    def merge(self, states: list):
        raise NotImplementedError

    def size_bytes(self, state) -> int:
        return len(self.serialize(state))


class ExactKernel(BaseKernel):
    """Collision-free synopsis: the exact per-cell event arrays.

    State: dict(items=int64[], values=int64[], ts=int64[]) sorted by
    (ts, item). Equivalent to exact-mode CM/FM/BF/ECM simultaneously.

    Payload codec: length-prefixed raw int64 buffers (np.frombuffer),
    not pickle — the query path deserializes one payload per matched
    cover cell, and pickle.loads was the dominant per-row cost there.
    """

    kind = "exact"
    _MAGIC = b"XK1\x00\x00\x00\x00\x00"   # 8 bytes so arrays stay 8-aligned

    def serialize(self, state) -> bytes:
        n = np.int64(len(state["items"]))
        return b"".join((self._MAGIC, n.tobytes(),
                         np.ascontiguousarray(state["items"], np.int64).tobytes(),
                         np.ascontiguousarray(state["values"], np.int64).tobytes(),
                         np.ascontiguousarray(state["ts"], np.int64).tobytes()))

    def deserialize(self, blob: bytes):
        if blob[:8] != self._MAGIC:           # legacy pickle payloads
            return pickle.loads(blob)
        n = int(np.frombuffer(blob, np.int64, 1, 8)[0])
        return {"items": np.frombuffer(blob, np.int64, n, 16),
                "values": np.frombuffer(blob, np.int64, n, 16 + 8 * n),
                "ts": np.frombuffer(blob, np.int64, n, 16 + 16 * n)}

    def build_grouped(self, cell_keys, items, values, ts):
        # ONE global lexsort by (cell, ts, item) replaces the old
        # argsort-by-cell + per-cell lexsort((item, ts)) — identical
        # states (lexsort is stable, so equal (cell, ts, item) triples
        # keep their relative order exactly as the two-stage stable
        # sort did), ~half the sort work per task.
        o = np.lexsort((items, ts, cell_keys))
        k_s = cell_keys[o]
        it_s, va_s, ts_s = items[o], values[o], ts[o]
        uc, starts = np.unique(k_s, return_index=True)
        bounds = np.append(starts, len(k_s))
        states = [{"items": it_s[s:e], "values": va_s[s:e],
                   "ts": ts_s[s:e]}
                  for s, e in zip(bounds[:-1], bounds[1:])]
        return uc, states

    def build_from_groups(self, uc, inv, items, values, ts, prep=None):
        o = np.lexsort((items, ts, inv))
        it_s, va_s, ts_s = items[o], values[o], ts[o]
        starts = np.searchsorted(inv[o], np.arange(len(uc)))
        bounds = np.append(starts, len(it_s))
        return [{"items": it_s[s:e], "values": va_s[s:e],
                 "ts": ts_s[s:e]}
                for s, e in zip(bounds[:-1], bounds[1:])]

    def merge(self, states):
        it = np.concatenate([s["items"] for s in states])
        va = np.concatenate([s["values"] for s in states])
        t = np.concatenate([s["ts"] for s in states])
        o = np.lexsort((it, t))
        return {"items": it[o], "values": va[o], "ts": t[o]}

    # exact answers to every reference query kind
    def query_item(self, st, item, item_end=None, t0=None) -> int:
        m = (st["items"] >= item) & (st["items"] <= (item_end if item_end is not None else item))
        if t0 is not None:
            m &= st["ts"] >= t0
        return int(st["values"][m].sum())

    def query_total(self, st) -> int:
        return int(st["values"].sum())

    def query_l2_counts(self, st) -> dict:
        """item -> count map contribution (merged across cells, then L2)."""
        uc, inv = np.unique(st["items"], return_inverse=True)
        cnt = int_group_sum(inv, st["values"], len(uc))
        return {"items": uc, "counts": cnt}

    def distinct_items(self, st) -> np.ndarray:
        return np.unique(st["items"])

    def member(self, st, item) -> bool:
        return bool(np.any(st["items"] == item))


class CMKernel(BaseKernel):
    """Count-Min: int64 counters (d, w); shared seeded coefficients
    (the reference shares hashab_ across cells, SpatialSketch.cpp:365-373)."""

    kind = "cm"

    def __init__(self, width: int, depth: int, seed: int = 7):
        self.w = int(width)
        self.d = int(depth)
        self.coeffs = coefficients(seed, self.d)

    def hash(self, items):
        return hash_items(items, self.coeffs, self.w)

    _MAGIC_D = b"CMD\x00\x00\x00\x00\x00"
    _MAGIC_S = b"CMS\x00\x00\x00\x00\x00"
    _WORD_D = np.frombuffer(_MAGIC_D, np.int64)[0]
    _WORD_S = np.frombuffer(_MAGIC_S, np.int64)[0]

    def _check_shape(self, blob: bytes):
        """Payloads carry their (d, w); a mismatch means a snapshot
        built under a different eps/delta is being read — fail loudly
        instead of silently scattering counters into the wrong layout."""
        d = int(np.frombuffer(blob, np.int64, 1, 8)[0])
        w = int(np.frombuffer(blob, np.int64, 1, 16)[0])
        if d != self.d or w != self.w:
            raise ValueError(
                f"CM payload shape ({d},{w}) does not match this "
                f"kernel's ({self.d},{self.w}) — the sketch snapshot "
                "was built with a different eps/delta config")

    def serialize(self, state) -> bytes:
        """Sparse encoding when the counter matrix is mostly zero (the
        common case for fine-grid cells with a handful of events) —
        ~10x smaller payloads than the dense (d, w) array. Raw int64
        buffers, not pickle: the query path pays one deserialize per
        matched cover cell. Header: magic, d, w [, nnz]."""
        flat = np.ascontiguousarray(state, np.int64).ravel()
        shape = np.array([self.d, self.w], dtype=np.int64).tobytes()
        nz = np.flatnonzero(flat)
        if len(nz) * 2 < flat.size:
            return b"".join((self._MAGIC_S, shape,
                             np.int64(len(nz)).tobytes(),
                             nz.astype(np.int64).tobytes(),
                             flat[nz].tobytes()))
        return self._MAGIC_D + shape + flat.tobytes()

    def deserialize(self, blob: bytes):
        if blob[:8] == self._MAGIC_D:
            self._check_shape(blob)
            return np.frombuffer(blob, np.int64, self.d * self.w,
                                 24).reshape(self.d, self.w)
        if blob[:8] == self._MAGIC_S:
            self._check_shape(blob)
            nnz = int(np.frombuffer(blob, np.int64, 1, 24)[0])
            idx = np.frombuffer(blob, np.int64, nnz, 32)
            vals = np.frombuffer(blob, np.int64, nnz, 32 + 8 * nnz)
            out = np.zeros(self.d * self.w, dtype=np.int64)
            out[idx] = vals
            return out.reshape(self.d, self.w)
        raise ValueError(f"not a CM payload (magic {bytes(blob[:8])!r})")

    def encode_batch(self, states):
        """Vectorized ``serialize`` over a (C, d, w) counter stack: the
        same canonical CMS/CMD payloads byte for byte, written straight
        into one int64 word buffer (every field is 8 bytes wide)."""
        size = self.d * self.w
        flat = np.ascontiguousarray(states, np.int64).reshape(-1, size)
        nz = np.flatnonzero(flat.ravel() != 0)    # by cell, idx ascending
        cell, idx = np.divmod(nz, size)
        nnz = np.bincount(cell, minlength=len(flat))
        sparse = nnz * 2 < size
        offsets = np.zeros(len(flat) + 1, dtype=np.int64)
        np.cumsum(np.where(sparse, 4 + 2 * nnz, 3 + size), out=offsets[1:])
        out = np.empty(offsets[-1], dtype=np.int64)
        start = offsets[:-1]
        out[start] = np.where(sparse, self._WORD_S, self._WORD_D)
        out[start + 1] = self.d
        out[start + 2] = self.w
        # sparse: nnz, then the ascending flat indices, then their values
        out[start[sparse] + 3] = nnz[sparse]
        rank = np.arange(len(nz)) - (np.cumsum(nnz) - nnz)[cell]
        keep = sparse[cell]
        nz, cell, idx, rank = nz[keep], cell[keep], idx[keep], rank[keep]
        pos = start[cell] + 4 + rank
        out[pos] = idx
        out[pos + nnz[cell]] = flat.ravel()[nz]
        # dense: the whole counter matrix
        out[start[~sparse, None] + 3 + np.arange(size)] = flat[~sparse]
        return offsets * 8, out.view(np.uint8)

    def deserialize_batch(self, payloads) -> np.ndarray:
        """B payloads -> one (B, d, w) int64 counter stack; the batched
        probe then answers every (row, item) in one fancy-index."""
        out = np.zeros((len(payloads), self.d, self.w), dtype=np.int64)
        flat = out.reshape(len(payloads), self.d * self.w)
        for i, blob in enumerate(payloads):
            if blob[:8] == self._MAGIC_S:
                self._check_shape(blob)
                nnz = int(np.frombuffer(blob, np.int64, 1, 24)[0])
                idx = np.frombuffer(blob, np.int64, nnz, 32)
                flat[i, idx] = np.frombuffer(blob, np.int64, nnz,
                                             32 + 8 * nnz)
            else:
                flat[i, :] = self.deserialize(blob).ravel()
        return out

    def query_items_batch(self, counters: np.ndarray,
                          items: np.ndarray) -> np.ndarray:
        """Vectorized point-frequency probe: counters (B, d, w),
        items (B,) -> min-over-rows estimates (B,)."""
        h = self.hash(items)                                   # (d, B)
        b_idx = np.arange(counters.shape[0])[:, None]          # (B, 1)
        r_idx = np.arange(self.d)[None, :]                     # (1, d)
        return counters[b_idx, r_idx, h.T].min(axis=1)

    def query_total(self, st) -> int:
        """Exact total mass in the cell: every insert adds `value` once
        per row, so any single row sums to the cell total — the
        reference's plain 'Count' synopsis (Tech Report Table 3 (a))
        comes for free from CM row 0."""
        return int(st[0].sum())

    def prep_batch(self, items, values, ts):
        return {"h": self.hash(items)}                       # (d, n)

    def build_from_groups(self, uc, inv, items, values, ts, prep=None):
        """-> the (len(uc), d, w) int64 counter stack; row i is cell
        uc[i]'s state. Counters accumulate in int64 (np.add.at), so
        they are exact at any batch size."""
        h = prep["h"] if prep is not None else self.hash(items)
        rows = np.arange(self.d, dtype=np.int64)[:, None]
        flat = (inv[None, :] * self.d + rows) * self.w + h   # (d, n)
        counters = np.zeros(len(uc) * self.d * self.w, dtype=np.int64)
        # both operands flat: np.add.at mis-adds a 1-D value array
        # broadcast against a 2-D index array (numpy 1.26)
        np.add.at(counters, flat.ravel(), np.broadcast_to(
            values.astype(np.int64), flat.shape).ravel())
        return counters.reshape(len(uc), self.d, self.w)

    def build_grouped(self, cell_keys, items, values, ts):
        uc, inv = np.unique(cell_keys, return_inverse=True)
        return uc, self.build_from_groups(uc, inv, items, values, ts)

    def merge(self, states):
        out = states[0].copy()
        for s in states[1:]:
            out += s                                  # CountMin.cpp:196-202
        return out

    def query_item(self, st, item, item_end=None, t0=None) -> int:
        if item_end is not None and item_end != item:
            raise ValueError("CM answers point frequencies only; item "
                             "ranges need a 'dcm' (or exact-mode) store")
        if t0 is not None and t0 > 0:
            raise ValueError("CM has no time dimension; window queries "
                             "need an 'ecm' (or exact-mode) store")
        h = self.hash(np.array([item]))[:, 0]
        return int(st[np.arange(self.d), h].min())    # CountMin.cpp:184-194

    def l2_estimate(self, st) -> int:
        return int((st.astype(np.float64) ** 2).sum(axis=1).min())  # :205-215


class FMKernel(BaseKernel):
    """Flajolet-Martin: d 64-bit bitmaps (reference uses 32,
    FM.h:14-16); bit tz(h_i(x)) set per row. Merge = OR (FM.cpp:154-172),
    estimate = 2^(mean lowest-unset-bit) / phi (FM.cpp:135-148)."""

    kind = "fm"

    def __init__(self, eps: float, delta: float, seed: int = 7):
        import math
        self.d = max(1, int(math.ceil((1.0 / eps ** 2) * math.log(1.0 / delta))))
        self.coeffs = coefficients(seed + 101, self.d)

    def prep_batch(self, items, values, ts):
        h = hash_items(items, self.coeffs, MERSENNE_P)           # raw hash
        tz = trailing_zeros(h)                                   # (d, n)
        return {"bits": (np.int64(1) << np.minimum(tz, 62))
                .astype(np.int64)}

    def build_from_groups(self, uc, inv, items, values, ts, prep=None):
        bits = (prep["bits"] if prep is not None else
                self.prep_batch(items, values, ts)["bits"])
        words = np.zeros((len(uc), self.d), dtype=np.int64)
        rows = np.broadcast_to(np.arange(self.d)[:, None], bits.shape)
        cols = np.broadcast_to(inv[None, :], bits.shape)
        np.bitwise_or.at(words, (cols.ravel(), rows.ravel()),
                         bits.ravel())
        return [words[i] for i in range(len(uc))]

    def build_grouped(self, cell_keys, items, values, ts):
        uc, inv = np.unique(cell_keys, return_inverse=True)
        return uc, self.build_from_groups(uc, inv, items, values, ts)

    def merge(self, states):
        out = states[0].copy()
        for s in states[1:]:
            out |= s
        return out

    def estimate(self, st) -> float:
        # per row: position of lowest unset bit (FM "R"), then 2^mean / phi
        rs = np.zeros(self.d, dtype=np.float64)
        for i in range(self.d):
            w = int(st[i])
            r = 0
            while w & (1 << r):
                r += 1
            rs[i] = r
        return float(2.0 ** rs.mean() / FM_PHI)


class BFKernel(BaseKernel):
    """Bloom filter: m bits packed into uint64 words, d hash rows
    (BloomFilter.cpp:28-37 sizing, :80-125 insert/query)."""

    kind = "bf"

    def __init__(self, expected_n: int, delta: float, seed: int = 7):
        import math
        self.m = max(64, int(math.ceil(-expected_n * math.log(delta) / (math.log(2) ** 2))))
        self.d = max(1, int(round((self.m / expected_n) * math.log(2))))
        self.n_words = (self.m + 63) // 64
        self.coeffs = coefficients(seed + 202, self.d)

    def prep_batch(self, items, values, ts):
        h = hash_items(items, self.coeffs, self.m)               # (d, n)
        return {"widx": (h >> 6).astype(np.int64),
                "bits": (np.uint64(1)
                         << (h.astype(np.uint64) & np.uint64(63)))}

    def build_from_groups(self, uc, inv, items, values, ts, prep=None):
        if prep is None:
            prep = self.prep_batch(items, values, ts)
        widx, bits = prep["widx"], prep["bits"]
        words = np.zeros((len(uc), self.n_words), dtype=np.uint64)
        cols = np.broadcast_to(inv[None, :], widx.shape)
        np.bitwise_or.at(words, (cols.ravel(), widx.ravel()),
                         bits.ravel())
        return [words[i] for i in range(len(uc))]

    def build_grouped(self, cell_keys, items, values, ts):
        uc, inv = np.unique(cell_keys, return_inverse=True)
        return uc, self.build_from_groups(uc, inv, items, values, ts)

    def merge(self, states):
        out = states[0].copy()
        for s in states[1:]:
            out |= s
        return out

    def member(self, st, item) -> bool:
        h = hash_items(np.array([item]), self.coeffs, self.m)[:, 0]
        w = (h >> 6).astype(np.int64)
        b = (np.uint64(1) << (h.astype(np.uint64) & np.uint64(63)))
        return bool(np.all((st[w] & b) != 0))


class _EHFold:
    """Exact replay of the ECM _eh_insert cascade with per-size-class
    bucket lists (VERDICT r5 #7): each cascade step touches only the
    <= k+2 buckets of ONE size class instead of scanning (and shifting)
    the whole histogram, so an arbitrary mixed-weight substream folds
    in O(k) amortized per event instead of O(|eh|). Bit-identical to
    the sequential fold (asserted exhaustively in tests) because the
    cascade only ever inspects buckets of the active size, the two
    oldest of a class are its two lowest insertion ages, and a merged
    bucket inherits the newer constituent's age — which is exactly its
    list position in _eh_insert's newest-first histogram."""

    __slots__ = ("k", "classes", "age")

    def __init__(self, k: int):
        self.k = int(k)
        self.classes: dict = {}   # size -> [[age, start, end], ...] age ASC
        self.age = 0

    def insert(self, t: int, w: float):
        self.age += 1
        self.classes.setdefault(w, []).append([self.age, t, t])
        s = w
        while True:
            lst = self.classes.get(s)
            if lst is None or len(lst) <= self.k + 1:
                break
            old = lst.pop(0)
            newer = lst.pop(0)
            merged = [newer[0], min(old[1], newer[1]),
                      max(old[2], newer[2])]
            s = s + s
            bisect.insort(self.classes.setdefault(s, []), merged)

    def to_eh(self) -> list:
        out = []
        for s, lst in self.classes.items():
            fs = float(s)
            for age, st, en in lst:
                out.append((age, [fs, st, en]))
        out.sort(key=lambda x: x[0], reverse=True)
        return [b for _, b in out]


class ECMKernel(BaseKernel):
    """Exponential-histogram Count-Min (sliding-window counts).

    State: (d, w) object array of exponential histograms; each EH is a
    list of buckets [size, start_ts, end_ts], newest first, sizes
    non-decreasing toward the tail, at most k+1 buckets per size
    (ECM.cpp:89-137). HistSum(t) counts full buckets with start >= t plus
    HALF the straddling bucket (ECM.cpp:254-282).

    Merge follows the reference's ECM_merge mode: flatten buckets into
    (time, weight) arrivals — half the bucket at its start, half at its
    end — sort by time, re-insert (MergeECM, ECM.cpp:316-348). Order
    sensitivity therefore resolves deterministically after merge.
    """

    kind = "ecm"

    def __init__(self, width: int, depth: int, k: int, seed: int = 7):
        self.w = int(width)
        self.d = int(depth)
        self.k = int(k)
        self.coeffs = coefficients(seed + 303, self.d)
        # sparse memo of unit-weight EH shapes: only the substream
        # lengths actually requested are retained (a snapshot for EVERY
        # m would cost O(m log m) memory — ~1 GB near the fold cap)
        self._unit_memo: dict[int, tuple] = {0: ()}
        self._unit_keys: list[int] = [0]

    # -- unit-weight fast path ------------------------------------------
    # For a stream of m unit arrivals the EH bucket structure depends
    # ONLY on m: insert adds a size-1 bucket and the cascade merges the
    # two oldest of any class exceeding k+1, so the per-class counts
    # follow a counter recurrence and every bucket covers a contiguous
    # arrival range. We snapshot counts per class for each m once, then
    # materialize any substream's histogram by slicing its sorted ts
    # array — per-SUBSTREAM python instead of per-event x per-row.
    _UNIT_FOLD_MAX = 2_000_000

    def _unit_counts(self, m: int) -> tuple:
        got = self._unit_memo.get(m)
        if got is not None:
            return got
        import bisect
        i = bisect.bisect_right(self._unit_keys, m) - 1
        base = self._unit_keys[i]
        cur = list(self._unit_memo[base])
        for _ in range(base, m):
            if not cur:
                cur = [0]
            cur[0] += 1
            j = 0
            while cur[j] > self.k + 1:
                cur[j] -= 2
                if j + 1 == len(cur):
                    cur.append(0)
                cur[j + 1] += 1
                j += 1
        t = tuple(cur)
        self._unit_memo[m] = t
        bisect.insort(self._unit_keys, m)
        return t

    def _eh_from_sorted_const(self, ts_arr, v: float = 1.0) -> list:
        """EH for a ts-ascending CONSTANT-weight substream — identical
        to folding _eh_insert over it (asserted exhaustively in tests).

        Works for any constant weight v, not just 1 (VERDICT r3 task 7):
        the cascade recurrence depends only on size CLASSES, and with
        every arrival weighing v the classes are exactly v·2^c — the
        same per-class counts as the unit stream of the same length.
        The sizes the sequential fold computes are sums of equal IEEE
        doubles (v+v, 2v+2v, …), each exact (exponent increment), so
        the materialized sizes v·2^c are bit-identical to the fold's."""
        m = len(ts_arr)
        counts = self._unit_counts(m)
        eh = []
        e = m
        for cls, cnt in enumerate(counts):
            s = 1 << cls
            for _ in range(cnt):
                eh.append([float(s) * v, int(ts_arr[e - s]),
                           int(ts_arr[e - 1])])
                e -= s
        return eh

    def _eh_from_runs(self, ts_arr, va_arr):
        """EH for a ts-ascending PIECEWISE-CONSTANT substream whose
        maximal constant-weight runs occupy pairwise-disjoint size
        classes (VERDICT r5 #7). The cascade only ever inspects the
        active size class, so runs sharing no class evolve completely
        independently: each is exactly the constant-weight closed form,
        and the final histogram is the newest-run-first concatenation
        (a later run's inserts sit above the untouched older blocks,
        exactly as the sequential fold leaves them). A run of length m
        with weight v can only ever occupy classes v·2^c with
        2^c <= m, so disjointness is checked on that conservative set.
        Returns None on any collision (dyadic weight ratios, repeated
        run weights) — the caller falls back to the exact per-class
        fold (:class:`_EHFold`)."""
        m = len(va_arr)
        bnd = np.flatnonzero(va_arr[1:] != va_arr[:-1]) + 1
        starts = np.concatenate(([0], bnd, [m]))
        classes_seen: set = set()
        runs = []
        for i in range(len(starts) - 1):
            a, b = int(starts[i]), int(starts[i + 1])
            v = float(va_arr[a])
            if v <= 0:
                return None
            cls = {v * (1 << c) for c in range((b - a).bit_length())}
            if classes_seen & cls:
                return None
            classes_seen |= cls
            runs.append((a, b, v))
        eh: list = []
        for a, b, v in reversed(runs):
            eh.extend(self._eh_from_sorted_const(ts_arr[a:b], v))
        return eh

    def _eh_fold_slot(self, ts2, va2) -> list:
        """Best fold for one (row, slot) substream: constant weight ->
        unit closed form; disjoint-class piecewise-constant runs ->
        per-run closed forms; anything else -> the exact per-class
        fold. All three are bit-identical to the sequential
        _eh_insert fold (asserted exhaustively in tests)."""
        if float(va2[0]) > 0 and bool(np.all(va2 == va2[0])):
            return self._eh_from_sorted_const(ts2, float(va2[0]))
        eh = self._eh_from_runs(ts2, va2)
        if eh is not None:
            return eh
        f = _EHFold(self.k)
        ins = f.insert
        for j in range(len(ts2)):
            ins(int(ts2[j]), float(va2[j]))
        return f.to_eh()

    def _eh_insert(self, eh: list, t: int, weight: float = 1.0):
        eh.insert(0, [weight, t, t])
        # cascade-merge oldest two buckets of any size exceeding k+1
        size = weight
        while True:
            idxs = [i for i, b in enumerate(eh) if b[0] == size]
            if len(idxs) <= self.k + 1:
                break
            i2, i1 = idxs[-1], idxs[-2]      # two oldest of this size
            old, newer = eh[i2], eh[i1]
            merged = [old[0] + newer[0], min(old[1], newer[1]), max(old[2], newer[2])]
            eh[i1] = merged
            del eh[i2]
            size = merged[0]

    def build_grouped(self, cell_keys, items, values, ts):
        # one stable lexsort by (cell, ts) == the old argsort-by-cell +
        # per-cell stable argsort-by-ts; hash the whole sorted batch
        # once instead of once per cell
        o_all = np.lexsort((ts, cell_keys))
        k_s = cell_keys[o_all]
        items_s, values_s, ts_s = items[o_all], values[o_all], ts[o_all]
        uc, starts = np.unique(k_s, return_index=True)
        bounds = np.append(starts, len(k_s))
        h_all = hash_items(items_s, self.coeffs, self.w)   # (d, n)
        states = []
        for ci in range(len(uc)):
            s, e = bounds[ci], bounds[ci + 1]
            it, va, t = items_s[s:e], values_s[s:e], ts_s[s:e]
            h = h_all[:, s:e]
            m_total = len(it)
            # the fold pays one python round per (row, slot) SUBSTREAM;
            # it wins only when substreams are long (hot coarse-grid
            # cells — exactly where the per-event loop explodes). Cold
            # cells with a handful of events keep the trivial loop.
            if 4 * self.d * self.w <= m_total <= self._UNIT_FOLD_MAX:
                # per-(row, slot) substream dispatch (VERDICT r5 #7):
                # constant weight -> unit closed form (covers value=1
                # streams AND any uniform-weight stream,
                # SpatialSketch.h:99 Update(value)); piecewise-constant
                # runs with disjoint size classes -> per-run closed
                # forms; arbitrary mixed weights -> the exact per-class
                # _EHFold. All bit-identical to the sequential fold.
                ehs = []
                for r in range(self.d):
                    row = [[] for _ in range(self.w)]
                    order2 = np.argsort(h[r], kind="stable")
                    ss = h[r][order2]
                    ts2 = t[order2]
                    va2 = va[order2]
                    slots, starts = np.unique(ss, return_index=True)
                    b2 = np.append(starts, m_total)
                    for ui in range(len(slots)):
                        sl = slice(b2[ui], b2[ui + 1])
                        row[int(slots[ui])] = self._eh_fold_slot(
                            ts2[sl], va2[sl])
                    ehs.append(row)
                states.append(ehs)
                continue
            ehs = [[[] for _ in range(self.w)] for _ in range(self.d)]
            for j in range(len(it)):
                tv = int(t[j])
                vv = float(va[j])
                for r in range(self.d):
                    self._eh_insert(ehs[r][h[r, j]], tv, vv)
            states.append(ehs)
        return uc, states

    def _flatten(self, eh: list) -> list:
        """EH -> (time, weight) arrivals, half at start / half at end
        (MergeECM reconstruction, ECM.cpp:316-348)."""
        arr = []
        for sz, st, en in eh:
            if st == en:
                arr.append((st, float(sz)))
            else:
                arr.append((st, sz / 2.0))
                arr.append((en, sz / 2.0))
        return arr

    def merge(self, states):
        out = [[[] for _ in range(self.w)] for _ in range(self.d)]
        for r in range(self.d):
            for c in range(self.w):
                arrivals = []
                for s in states:
                    arrivals.extend(self._flatten(s[r][c]))
                arrivals.sort(key=lambda a: a[0])
                for t, wgt in arrivals:
                    if wgt:
                        self._eh_insert(out[r][c], t, wgt)
        return out

    def hist_sum(self, eh: list, t0: int) -> float:
        """ECM.cpp:254-282: full buckets with start >= t0; half the
        straddling bucket."""
        total = 0.0
        for sz, st, en in eh:
            if st >= t0:
                total += sz
            elif en >= t0:
                total += sz / 2.0
        return total

    def query_item(self, st, item, item_end=None, t0=0) -> int:
        if item_end is not None and item_end != item:
            raise ValueError("ECM answers point (item, window) counts; "
                             "item ranges need a 'dcm'/exact-mode store")
        t0 = 0 if t0 is None else t0
        h = hash_items(np.array([item]), self.coeffs, self.w)[:, 0]
        ests = [self.hist_sum(st[r][int(h[r])], t0) for r in range(self.d)]
        return int(min(ests))


class ElasticKernel(BaseKernel):
    """Elastic-style heavy/light frequency kernel — the engine analogue
    of the reference's vendored ElasticSketch (B9 in SURVEY §2;
    reference ElasticSketch/ElasticSketch.h:178-187 query composition,
    HeavyPart.h:110-160 insert + Ostracism eviction, LightPart.h:137-143
    one-row light query). Same-budget error vs CM is measured in
    tests/test_kernels.py::test_elastic_same_budget_vs_cm.

    Semantics re-expressed (not transcribed):
    - heavy part: ``n_buckets`` hash buckets of ``slots`` (key, count,
      flag) entries + a per-bucket guard (negative vote). Matched key:
      count += f (exact while resident). Empty slot: install flag=0.
      Full bucket: guard += 1; once guard >= lambda * min_count the
      minimum entry is EVICTED to the light part and the new key is
      installed with count=f, flag=1 (its earlier mass may sit in the
      light part — the reference's 0x80000001 install).
    - light part: one-row conservative counter array (add on insert).
    - query(key): resident & flag=0 -> exact heavy count; resident &
      flag=1 -> heavy + light; absent -> light. Never underestimates
      (every unit of mass lands in heavy or light exactly once; light
      collisions only add).
    - merge: sum light arrays; sum heavy entries per key (flags OR);
      rebuild heavy by re-inserting entries in decreasing (count, key)
      order, overflow evicted to light with flag bookkeeping. Like the
      ECM fold, merge is deterministic and commutative (canonical
      ordering) though not bit-identical to single-stream insertion
      order — estimates keep the never-underestimate property.

    Cost note: eviction state depends on arrival order, so insertion
    into a CONTENDED bucket (more distinct keys than slots) is
    inherently sequential — the same class the reference's C++ insert
    is. But a bucket that never reaches contention folds to exact
    per-key sums independent of order, and `_insert_fast` detects that
    per bucket in one numpy pass, so only the contended fraction of
    events pays the python loop (throughput floor asserted in
    tests/test_kernels.py::test_elastic_build_cost_bound, the ECM
    treatment VERDICT r6 task 2 asked for). The map-side-combined
    build additionally bounds any cell to one partition's events
    before merge, which is the structural mitigation at scale.
    """

    kind = "elastic"

    def __init__(self, n_buckets: int, slots: int, light_width: int,
                 lam: int = 8, seed: int = 7):
        self.b = max(1, int(n_buckets))
        self.slots = max(1, int(slots))
        self.lw = max(8, int(light_width))
        self.lam = int(lam)
        self.coeffs = coefficients(seed + 505, 2)   # row0: bucket, row1: light

    def _new_state(self):
        return {"heavy": [dict() for _ in range(self.b)],   # key -> [cnt, flag]
                "guard": np.zeros(self.b, dtype=np.int64),
                "light": np.zeros(self.lw, dtype=np.int64)}

    _MAGIC = b"ELK1\x00\x00\x00\x00"

    def serialize(self, state) -> bytes:
        """Raw int64 codec (r8): pickling the per-bucket dict states
        through _canon was ~15 s of the 34 s single-partition build
        profile. Flat layout: header (b, lw, n_keys), per-bucket entry
        counts, then keys/counts/flags in bucket-dict order (order
        preserved, so serialize∘deserialize is byte-stable), guard,
        light. Legacy pickle payloads still deserialize."""
        heavy = state["heavy"]
        counts = np.array([len(bkt) for bkt in heavy], dtype=np.int64)
        keys, cnts, flags = [], [], []
        for bkt in heavy:
            for k, (c, fl) in bkt.items():
                keys.append(k)
                cnts.append(c)
                flags.append(fl)
        head = np.array([self.b, self.lw, len(keys)], dtype=np.int64)
        return b"".join((
            self._MAGIC, head.tobytes(), counts.tobytes(),
            np.array(keys, dtype=np.int64).tobytes(),
            np.array(cnts, dtype=np.int64).tobytes(),
            np.array(flags, dtype=np.int64).tobytes(),
            np.ascontiguousarray(state["guard"], np.int64).tobytes(),
            np.ascontiguousarray(state["light"], np.int64).tobytes()))

    def deserialize(self, blob: bytes):
        if blob[:8] != self._MAGIC:
            return pickle.loads(blob)                 # legacy payloads
        b, lw, nk = (int(v) for v in np.frombuffer(blob, np.int64, 3, 8))
        off = 32
        counts = np.frombuffer(blob, np.int64, b, off); off += 8 * b
        keys = np.frombuffer(blob, np.int64, nk, off); off += 8 * nk
        cnts = np.frombuffer(blob, np.int64, nk, off); off += 8 * nk
        flags = np.frombuffer(blob, np.int64, nk, off); off += 8 * nk
        guard = np.frombuffer(blob, np.int64, b, off).copy(); off += 8 * b
        light = np.frombuffer(blob, np.int64, lw, off).copy()
        kl, cl, fl = keys.tolist(), cnts.tolist(), flags.tolist()
        heavy = []
        pos = 0
        for cnt in counts.tolist():
            bkt = {}
            for i in range(pos, pos + cnt):
                bkt[kl[i]] = [cl[i], fl[i]]
            pos += cnt
            heavy.append(bkt)
        return {"heavy": heavy, "guard": guard, "light": light}

    def _positions(self, items: np.ndarray):
        h = hash_items(items, self.coeffs, MERSENNE_P)
        return (h[0] % self.b).astype(np.int64), \
               (h[1] % self.lw).astype(np.int64)

    def _insert_seq(self, st, items, values, bpos, lpos, lmap=None):
        # r8 micro-shape (25 s of the 34 s single-partition elastic
        # build profile): iterate python ints (no per-event numpy
        # scalar boxing), explicit <=slots-entry min scan instead of
        # min(key=lambda) (4 lambda frames per overflow event), and
        # guard/light mutated as python lists, written back once.
        heavy = st["heavy"]
        guard = st["guard"].tolist()
        light = st["light"].tolist()
        it_l = items.tolist() if hasattr(items, "tolist") else items
        va_l = values.tolist() if hasattr(values, "tolist") else values
        bp_l = bpos.tolist() if hasattr(bpos, "tolist") else bpos
        lp_l = lpos.tolist() if hasattr(lpos, "tolist") else lpos
        slots, lam = self.slots, self.lam
        for j in range(len(it_l)):
            key = it_l[j]; f = va_l[j]
            bp = bp_l[j]; bkt = heavy[bp]
            ent = bkt.get(key)
            if ent is not None:
                ent[0] += f
                continue
            if len(bkt) < slots:
                bkt[key] = [f, 0]
                continue
            g = guard[bp] + 1
            mk = None
            mc = None
            for kk, e2 in bkt.items():      # <= slots entries
                c2 = e2[0]
                if mc is None or c2 < mc or (c2 == mc and kk < mk):
                    mc = c2; mk = kk
            if g >= lam * mc:
                # Ostracism eviction: loser's mass moves to light.
                # Every resident key arrived as an event, so its light
                # position is in lmap (built once per call) — the old
                # per-eviction hash_items round trip was the hot path.
                if lmap is None:
                    lmap = dict(zip(it_l, lp_l))
                ev_cnt, ev_flag = bkt.pop(mk)
                light[lmap[mk]] += ev_cnt
                bkt[key] = [f, 1]
                guard[bp] = 0
            else:
                guard[bp] = g
                light[lp_l[j]] += f
        st["guard"] = np.asarray(guard, dtype=np.int64)
        st["light"] = np.asarray(light, dtype=np.int64)

    def _insert_fast(self, st, items, values, bpos, lpos):
        """Vectorized common case (VERDICT r6 task 2, mirroring the ECM
        `_EHFold` treatment): a bucket whose DISTINCT-key count is
        <= ``slots`` can never overflow — every event either matches a
        resident entry or installs into a free slot, so its final state
        is exactly {key: [sum(values), flag=0]} with guard 0 and zero
        light writes, independent of arrival order. Those buckets fold
        in one numpy pass (lexsort + reduceat); only CONTENDED buckets
        (distinct > slots, where eviction depends on arrival order)
        replay the sequential insert, restricted to their own events in
        arrival order. Bucket states are independent and light writes
        commute, so the combined result is identical to the full
        sequential insert (pinned bit-for-bit in
        tests/test_kernels.py::test_elastic_fast_path_identical)."""
        n = len(items)
        if n == 0:
            return
        ordk = np.lexsort((items, bpos))
        bi, ki = bpos[ordk], items[ordk]
        newg = np.empty(n, dtype=bool)
        newg[0] = True
        newg[1:] = (bi[1:] != bi[:-1]) | (ki[1:] != ki[:-1])
        gstart = np.flatnonzero(newg)
        gsum = np.add.reduceat(values[ordk], gstart)
        gbkt, gkey = bi[gstart], ki[gstart]
        contended = np.bincount(gbkt, minlength=self.b) > self.slots
        ok = ~contended[gbkt]
        heavy = st["heavy"]
        for bp, k, c in zip(gbkt[ok].tolist(), gkey[ok].tolist(),
                            gsum[ok].tolist()):
            heavy[bp][k] = [int(c), 0]
        if contended.any():
            m = contended[bpos]
            self._insert_seq(st, items[m], values[m], bpos[m], lpos[m])

    def build_grouped(self, cell_keys, items, values, ts):
        # one stable lexsort by (cell, ts) == the old argsort-by-cell +
        # per-cell stable argsort-by-ts; bucket/light positions hashed
        # for the whole sorted batch once instead of once per cell
        o_all = np.lexsort((ts, cell_keys))
        k_s = cell_keys[o_all]
        items_s, values_s = items[o_all], values[o_all]
        uc, starts = np.unique(k_s, return_index=True)
        bounds = np.append(starts, len(k_s))
        bpos_all, lpos_all = self._positions(items_s)
        states = []
        for ci in range(len(uc)):
            s, e = bounds[ci], bounds[ci + 1]
            st = self._new_state()
            self._insert_fast(st, items_s[s:e], values_s[s:e],
                              bpos_all[s:e], lpos_all[s:e])
            states.append(st)
        return uc, states

    def merge(self, states):
        out = self._new_state()
        out["light"] = np.sum([s["light"] for s in states],
                              axis=0).astype(np.int64)
        # flag=0 promises "none of this key's mass is in the light
        # part" — across states that promise only survives if every
        # source light is empty (another state may hold this key's mass
        # in ITS light); otherwise all rebuilt entries go conservative
        # (flag=1 -> heavy + light, preserving never-underestimate).
        any_light = any(bool(s["light"].any()) for s in states)
        ents: dict[int, list] = {}
        for s in states:
            for bkt in s["heavy"]:
                for k, (c, fl) in bkt.items():
                    e = ents.setdefault(k, [0, 0])
                    e[0] += c
                    e[1] |= fl | (1 if any_light else 0)
        keys = sorted(ents, key=lambda k: (-ents[k][0], k))
        karr = np.array(keys, dtype=np.int64)
        if len(karr):
            bpos, lpos = self._positions(karr)
            for k, bp, lp in zip(keys, bpos.tolist(), lpos.tolist()):
                bkt = out["heavy"][bp]
                if len(bkt) < self.slots:
                    bkt[k] = list(ents[k])
                else:
                    out["light"][lp] += ents[k][0]
        return out

    def query_item(self, st, item, item_end=None, t0=None) -> int:
        if item_end is not None and item_end != item:
            raise ValueError("elastic answers point frequencies only")
        if t0 is not None and t0 > 0:
            raise ValueError("elastic has no time dimension")
        bpos, lpos = self._positions(np.array([item], dtype=np.int64))
        ent = st["heavy"][int(bpos[0])].get(int(item))
        light = int(st["light"][int(lpos[0])])
        if ent is None:
            return light
        cnt, flag = ent
        return cnt + light if flag else cnt

    def query_total(self, st) -> int:
        heavy = sum(c for bkt in st["heavy"] for c, _ in bkt.values())
        return int(heavy + st["light"].sum())


class DCMKernel(BaseKernel):
    """Per-cell dyadic Count-Min over the item domain — answers
    frequency of item *ranges* (DyadCountMin.cpp). Levels 0..L over
    item ids; low ``exact_levels`` kept as exact sparse counts
    (reference keeps top 14 of 33 exact, DyadCountMin.h:82-85), the rest
    as CMs with eps' = eps / (L - exact_levels).
    """

    kind = "dcm"

    def __init__(self, log_domain: int, width: int, depth: int,
                 exact_levels: int, seed: int = 7):
        self.L = int(log_domain)           # levels 0..L inclusive
        self.w = int(width)
        self.d = int(depth)
        self.exact_levels = min(int(exact_levels), self.L + 1)
        self.coeffs = coefficients(seed + 404, self.d)

    def build_from_groups(self, uc, inv, items, values, ts, prep=None):
        """Whole-batch fold: per exact level ONE unique+grouped-sum over
        a combined (cell, prefix) key, per CM level ONE bincount over a
        (cell, row, slot) flat index — replacing the old per-cell python
        loop (the slowest per-kind build at 9.5 s/10k rows). States are
        bit-identical: grouped sums are exact int64, bincount partial
        sums are integers < 2^53 in float64, and per-cell prefix lists
        come out sorted exactly as np.unique produced them before."""
        va = values.astype(np.int64)
        inv64 = inv.astype(np.int64)
        n_cells = len(uc)
        n_cm_levels = max(self.L + 1 - self.exact_levels, 0)
        per_cell_exact: list[dict] = [dict() for _ in range(n_cells)]
        for lvl in range(self.exact_levels):
            pref = items >> lvl
            mult = np.int64(1) << (self.L + 1 - lvl)
            assert n_cells * int(mult) < (1 << 62)
            comb = inv64 * mult + pref
            up_c, inv_c = np.unique(comb, return_inverse=True)
            sums = int_group_sum(inv_c, va, len(up_c))
            cell_of = up_c // mult
            prefs = up_c % mult
            starts = np.searchsorted(cell_of, np.arange(n_cells))
            bounds = np.append(starts, len(up_c))
            for ci in range(n_cells):
                s, e = bounds[ci], bounds[ci + 1]
                per_cell_exact[ci][lvl] = (prefs[s:e], sums[s:e])
        cms_all = np.zeros((n_cells, n_cm_levels, self.d, self.w),
                           dtype=np.int64)
        rows = np.arange(self.d, dtype=np.int64)[:, None]
        for li, lvl in enumerate(range(self.exact_levels, self.L + 1)):
            pref = items >> lvl
            h = hash_items(pref, self.coeffs, self.w)
            flat = (inv64[None, :] * self.d + rows) * self.w + h
            cms_all[:, li] = np.bincount(
                flat.ravel(),
                weights=np.broadcast_to(va, (self.d, len(va))).ravel(),
                minlength=n_cells * self.d * self.w,
            ).astype(np.int64).reshape(n_cells, self.d, self.w)
        return [{"exact": per_cell_exact[ci], "cms": cms_all[ci]}
                for ci in range(n_cells)]

    def build_grouped(self, cell_keys, items, values, ts):
        uc, inv = np.unique(cell_keys, return_inverse=True)
        return uc, self.build_from_groups(uc, inv, items, values, ts)

    def merge(self, states):
        out_exact = {}
        for lvl in range(self.exact_levels):
            allp = np.concatenate([s["exact"][lvl][0] for s in states])
            allc = np.concatenate([s["exact"][lvl][1] for s in states])
            up, inv = np.unique(allp, return_inverse=True)
            out_exact[lvl] = (up, int_group_sum(inv, allc, len(up)))
        cms = states[0]["cms"].copy()
        for s in states[1:]:
            cms += s["cms"]
        return {"exact": out_exact, "cms": cms}

    def query_range(self, st, a: int, b: int) -> int:
        """Canonical 1-D cover over item ids; exact levels answered
        exactly, CM levels by min-row point estimates."""
        from .dyadic import cover_1d_items
        total = 0
        for lvl, prefix in cover_1d_items(a, b, self.L):
            if lvl < self.exact_levels:
                up, cnt = st["exact"][lvl]
                j = np.searchsorted(up, prefix)
                if j < len(up) and up[j] == prefix:
                    total += int(cnt[j])
            else:
                li = lvl - self.exact_levels
                h = hash_items(np.array([prefix]), self.coeffs, self.w)[:, 0]
                total += int(st["cms"][li][np.arange(self.d), h].min())
        return total


def make_kernel(kind: str, cfg) -> BaseKernel:
    """Kernel factory from a SketchConfig."""
    import math
    if cfg.exact or kind == "exact":
        return ExactKernel()
    if kind == "cm":
        return CMKernel(cfg.cm_width, cfg.cm_depth, cfg.seed)
    if kind == "fm":
        return FMKernel(max(cfg.eps, 0.25), cfg.delta, cfg.seed)
    if kind == "bf":
        return BFKernel(expected_n=min(cfg.item_domain, 1 << 20), delta=cfg.delta, seed=cfg.seed)
    if kind == "ecm":
        return ECMKernel(cfg.cm_width, cfg.cm_depth, cfg.ecm_k, cfg.seed)
    if kind == "elastic":
        # same counter budget as the CM at this config: heavy entries
        # (key+count = 2 words) for a quarter of the budget, the rest as
        # one-row light counters
        budget = cfg.cm_width * cfg.cm_depth
        return ElasticKernel(n_buckets=max(1, budget // 16), slots=4,
                             light_width=max(8, budget // 2),
                             seed=cfg.seed)
    if kind == "dcm":
        log_dom = int(math.ceil(math.log2(max(2, cfg.item_domain))))
        return DCMKernel(log_dom, cfg.cm_width, cfg.cm_depth, cfg.dcm_exact_levels, cfg.seed)
    raise ValueError(f"unknown sketch kind {kind!r}")
