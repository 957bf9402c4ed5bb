"""Seeded inputs and the exact-answer oracle.

The event stream is the repository's bench stream (``bench.py``'s
``replicated_events``): geo events derived by the engine's own
``derive_geo_events`` from an ``events`` table, in shifted copies. The
benchmark writes that table itself, seeded, with the shape of the sf0.1
testdata's: consecutive ``event_id`` and ``user_id`` uniform over 1500
users, ``SOURCE_ROWS`` rows. The seed also picks each copy's (x, y) shift.
Every stream is collected once into the oracle's numpy copy, outside the
timed region. The oracle shares no code with the engine: polygon
membership is a fresh even-odd test, not the engine's rectangle
decomposition.
"""

from __future__ import annotations

import os

import numpy as np

N = 4096                  # grid side, same as the engine's fixtures
BLOCK = 16                # fixture polygons and placements align to 16 cells
NB = N // BLOCK           # blocks per axis
SOURCE_ROWS = 100_000     # rows of the sf0.1 events table
USERS = 1500              # user_id domain of that table; the item domain
TS_STRIDE = 100_000_000   # ts offset per copy, as in bench.py


class Events:
    """One batch of events as numpy columns (ts, item, x, y, value)."""

    COLUMNS = ("ts", "item", "x", "y", "value")

    def __init__(self, ts, item, x, y, value):
        self.ts, self.item, self.x, self.y, self.value = ts, item, x, y, value

    def __len__(self) -> int:
        return len(self.ts)

    def nbytes(self) -> int:
        return sum(getattr(self, c).nbytes for c in self.COLUMNS)


class Stream:
    """Seeded replicated event stream. Each ``take`` writes a fresh
    ``events`` table (the next block of event ids) under ``root``,
    derives it with ``derive_geo_events`` and shifts each copy; ts stays
    unique across takes."""

    def __init__(self, spark, rng: np.random.Generator, root: str):
        self.spark, self.rng, self.root = spark, rng, root
        self.next_id = int(rng.integers(0, TS_STRIDE // 8))
        self.takes = 0

    def take(self, rows: int):
        """-> (cached DataFrame, Events) of ``rows`` rows, rounded down
        to whole copies of a table of min(rows, SOURCE_ROWS) rows."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql import functions as F
        from spatialsketch_spark.geo.events import derive_geo_events
        base = min(rows, SOURCE_ROWS)
        copies = max(1, rows // base)
        src = os.path.join(self.root, f"source-{self.takes}")
        os.makedirs(src)
        self.takes += 1
        pq.write_table(pa.table({
            "event_id": np.arange(self.next_id, self.next_id + base,
                                  dtype=np.int64),
            "user_id": self.rng.integers(0, USERS, base)}),
            os.path.join(src, "events.parquet"))
        self.next_id += base
        shift = self.rng.integers(0, N, (copies, 2))
        reps = self.spark.range(copies).select(
            F.col("id").alias("rep"),
            *(F.element_at(F.array(*map(F.lit, shift[:, k].tolist())),
                           (F.col("id") + 1).cast("int")).alias(name)
              for k, name in enumerate(("dx", "dy"))))
        df = (derive_geo_events(self.spark, src, N)
              .crossJoin(F.broadcast(reps))
              .select((F.col("ts") + F.col("rep") * TS_STRIDE).alias("ts"),
                      "item",
                      ((F.col("x") + F.col("dx")) % N).alias("x"),
                      ((F.col("y") + F.col("dy")) % N).alias("y"),
                      "value")
              .cache())
        pdf = df.toPandas()
        ev = Events(*(pdf[c].to_numpy(np.int64) for c in Events.COLUMNS))
        return df, ev


def placements(rng: np.random.Generator, n_polys: int) -> np.ndarray:
    """Every distinct (polygon, block offset) in a seeded order. Offsets
    span [-32, 64) blocks per axis, so each polygon has 9216 placements
    and no placement repeats within a run."""
    offs = np.arange(-32, 64)
    p, dx, dy = np.meshgrid(np.arange(n_polys), offs, offs, indexing="ij")
    allp = np.stack([p.ravel(), dx.ravel(), dy.ravel()], axis=1)
    return allp[rng.permutation(len(allp))]


# ---------------------------------------------------------------------------
# oracle
# ---------------------------------------------------------------------------

def polygon_block_mask(rings) -> np.ndarray:
    """(NB, NB) bool: block (bx, by) lies inside the polygon (even-odd
    rule on the block centre). Valid for polygons whose vertices sit on
    16-cell boundaries, where a block is wholly inside or outside."""
    c = np.arange(NB) * BLOCK + (BLOCK - 1) / 2.0
    px, py = np.meshgrid(c, c, indexing="ij")
    inside = np.zeros((NB, NB), dtype=bool)
    for ring in rings:
        m = len(ring)
        for i in range(m):
            (x0, y0), (x1, y1) = ring[i], ring[(i + 1) % m]
            if x0 != x1:
                continue              # horizontal edges never cross a ray
            lo, hi = min(y0, y1), max(y0, y1)
            # a ray towards +x crosses this vertical edge
            inside ^= (py > lo) & (py < hi) & (px < x0)
    return inside


class Oracle:
    """Exact truth over everything ingested so far."""

    def __init__(self, polygons):
        self.masks = [polygon_block_mask(p.rings) for p in polygons]
        self.hist = np.zeros((NB, NB), dtype=np.int64)      # value sums
        self.hist_n = np.zeros((NB, NB), dtype=np.int64)    # event counts
        self._by_item: list[list[np.ndarray]] = [[] for _ in range(USERS)]
        self.rows = 0
        self.ev: list[Events] = []

    def add(self, ev: Events) -> None:
        bx, by = ev.x // BLOCK, ev.y // BLOCK
        flat = bx * NB + by
        self.hist += np.bincount(flat, weights=ev.value, minlength=NB * NB
                                 ).astype(np.int64).reshape(NB, NB)
        self.hist_n += np.bincount(flat, minlength=NB * NB).reshape(NB, NB)
        order = np.argsort(ev.item, kind="stable")
        bounds = np.searchsorted(ev.item[order], np.arange(USERS + 1))
        packed = np.stack([bx, by, ev.value], axis=1)[order]
        for it in range(USERS):
            if bounds[it + 1] > bounds[it]:
                self._by_item[it].append(packed[bounds[it]:bounds[it + 1]])
        self.rows += len(ev)
        self.ev.append(ev)

    def _region(self, poly: int, dx: int, dy: int) -> np.ndarray:
        """(NB, NB) mask of the polygon shifted by (dx, dy) blocks."""
        m = self.masks[poly]
        out = np.zeros_like(m)
        xs, xd = slice(max(0, -dx), NB - max(0, dx)), slice(max(0, dx), NB - max(0, -dx))
        ys, yd = slice(max(0, -dy), NB - max(0, dy)), slice(max(0, dy), NB - max(0, -dy))
        out[xd, yd] = m[xs, ys]
        return out

    def count(self, poly: int, dx: int, dy: int) -> int:
        return int(self.hist[self._region(poly, dx, dy)].sum())

    def freq(self, poly: int, dx: int, dy: int, item: int) -> int:
        parts = self._by_item[item]
        if not parts:
            return 0
        a = parts[0] if len(parts) == 1 else np.concatenate(parts)
        self._by_item[item] = [a]
        bx, by = a[:, 0] - dx, a[:, 1] - dy
        ok = (bx >= 0) & (bx < NB) & (by >= 0) & (by < NB)
        m = self.masks[poly]
        hit = np.zeros(len(a), dtype=bool)
        hit[ok] = m[bx[ok], by[ok]]
        return int(a[hit, 2].sum())

    def pip_counts(self) -> list[int]:
        """Events inside each (unshifted) polygon."""
        return [int(self.hist_n[m].sum()) for m in self.masks]

    def sketch_cells(self, min_level: int, log_n: int) -> int:
        """Distinct (grid, cell) pairs over the live pyramid: what a
        build's ``sketch_cells`` must equal."""
        xs = np.concatenate([e.x for e in self.ev])
        ys = np.concatenate([e.y for e in self.ev])
        base = np.unique((xs >> min_level) * (N >> min_level)
                         + (ys >> min_level))
        bx, by = base // (N >> min_level), base % (N >> min_level)
        total = 0
        for kx in range(min_level, log_n + 1):
            for ky in range(min_level, log_n + 1):
                total += len(np.unique(((bx >> (kx - min_level)) << 20)
                                       + (by >> (ky - min_level))))
        return total

    def knn(self, points, k: int) -> list[tuple[int, int, int, int]]:
        """Exact (qid, rank, ts, dist2): nearest by squared distance,
        ties broken by ts, over everything ingested."""
        ts = np.concatenate([e.ts for e in self.ev])
        xs = np.concatenate([e.x for e in self.ev])
        ys = np.concatenate([e.y for e in self.ev])
        out = []
        for qid, qx, qy in points:
            d2 = (xs - qx) ** 2 + (ys - qy) ** 2
            kth = d2[np.argpartition(d2, k - 1)[:k]].max()
            near = np.flatnonzero(d2 <= kth)
            order = near[np.lexsort((ts[near], d2[near]))][:k]
            out.extend((int(qid), r + 1, int(ts[i]), int(d2[i]))
                       for r, i in enumerate(order))
        return out
