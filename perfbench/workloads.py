"""The workloads, ``build`` and ``serve``, and the ingest cycle that
``serve``'s traced run samples. Each drives the engine only through its
public functions, one closed-loop client at a time: the next operation
starts after the previous one returns.

A workload object has ``setup(ctx)`` (untimed, counted in ``setup_s``) and
``op(ctx, traced)`` which runs one operation, checks it against the oracle
outside its timed region and returns an ``Op``. With ``traced`` the
operation's layer calls are wrapped in spans.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

import numpy as np

from inputs import Events, Oracle, Stream, placements
from ledger import reset_peak_rss, tree_cpu_s


# Sizes at --scale 1; the self-test shrinks them.
BUILD_ROWS = 300_000         # three shifted copies of the 100k-row table
SERVE_ROWS = 100_000         # one copy: the store has 94% of the cells
SERVE_BATCH = 600            # queries per batch: count + freq per placement
INGEST_BASE_ROWS = 100_000
INGEST_DELTA_ROWS = 5_000
INGEST_BATCH = 40
BUILD_WARM = 2               # untimed builds before the loop: the JIT
                             # still compiles through the second build
SERVE_WARM_BATCHES = 2
KNN_POINTS = 4
KNN_K = 5


@dataclass
class Op:
    wall_s: float                       # the operation, as a user sees it
    cpu_s: float                        # process-tree CPU over wall_s
    work: int                           # rows or queries done
    ok: bool = True
    error: str | None = None
    steal: float = 0.0                  # host steal share over wall_s

    @property
    def unstolen_s(self) -> float:
        """wall_s less the time the hypervisor took: the operation's
        critical path is taken to lose the same share as the CPUs that
        wanted to run."""
        return self.wall_s * (1.0 - self.steal)


def timed(fn):
    """Run fn() and return (result, wall seconds, tree CPU seconds)."""
    c0 = tree_cpu_s()
    t0 = time.perf_counter()
    out = fn()
    wall = time.perf_counter() - t0
    return out, wall, tree_cpu_s() - c0


def _scaled(n: int, scale: float, floor: int = 1) -> int:
    return max(floor, int(n * scale))


class _Base:
    name = "base"

    def __init__(self, ctx):
        from spatialsketch_spark.config import SketchConfig
        from spatialsketch_spark.gate import MIN_LEVEL, N, POLYGONS
        self.ctx = ctx
        self.rng = np.random.default_rng(ctx.seed)
        self.stream = Stream(ctx.spark, self.rng,
                             os.path.join(ctx.run_dir, self.name))
        self.polygons = POLYGONS
        self.min_level = MIN_LEVEL
        self.cfg = SketchConfig.realistic(n=N, eps=0.1, delta=0.05,
                                          item_domain=256)
        self.oracle = Oracle(POLYGONS)

    def events(self, n: int):
        """-> (cached DataFrame, Events): the next ``n`` stream rows,
        already added to the oracle."""
        df, ev = self.stream.take(n)
        self.oracle.add(ev)
        return df, ev

    def live_grids(self) -> int:
        from spatialsketch_spark.geo.build import live_grids
        return len(live_grids(self.cfg, self.min_level))

    def traced_extras(self, ctx) -> list:
        """Layer samples a traced run takes besides its operations; one
        error (or None) per checked sample."""
        return []


class _Batches:
    """Fresh query batches: never-repeated seeded placements, each asked
    as a count and a freq query."""

    def __init__(self, wl: _Base):
        self.wl = wl
        self.order = placements(wl.rng, len(wl.polygons))
        self.next = 0

    def take(self, n_placements: int):
        if self.next + n_placements > len(self.order):
            raise RuntimeError("placements exhausted; lower --seconds")
        out = self.order[self.next:self.next + n_placements]
        self.next += n_placements
        return out

    def specs(self, chosen) -> tuple[list, list]:
        """-> (QuerySpecs, expectations) for placements ``chosen``."""
        from spatialsketch_spark.geo.query import QuerySpec
        from inputs import BLOCK, USERS
        qs, meta = [], []
        items = self.wl.rng.integers(0, USERS, len(chosen))
        for i, ((p, bx, by), item) in enumerate(zip(chosen.tolist(),
                                                    items.tolist())):
            dx, dy = bx * BLOCK, by * BLOCK
            poly = self.wl.polygons[p]
            qs.append(QuerySpec.from_shape(2 * i, poly, "count",
                                           x_off=dx, y_off=dy))
            qs.append(QuerySpec.from_shape(2 * i + 1, poly, "freq",
                                           item=item, x_off=dx, y_off=dy))
            meta.append((p, bx, by, item))
        return qs, meta

    def check(self, res: dict, meta) -> str | None:
        """Counts exact; freq within [truth, region count] (CM never
        under-estimates and a cell's counters never exceed its mass)."""
        o = self.wl.oracle
        for i, (p, bx, by, item) in enumerate(meta):
            cnt = o.count(p, bx, by)
            if res.get(2 * i) != cnt:
                return f"count q{2 * i}: {res.get(2 * i)} != {cnt}"
            f_true = o.freq(p, bx, by, item)
            est = res.get(2 * i + 1)
            if est is None or not (f_true <= est <= cnt):
                return f"freq q{2 * i + 1}: {est} not in [{f_true}, {cnt}]"
        if len(res) != 2 * len(meta):
            return f"{len(res)} answers for {2 * len(meta)} queries"
        return None


def add_job_children(tr, span, name: str) -> None:
    """One child span per Spark job of ``span`` (its stage interval
    union); the span's self time is then its driver-side time."""
    jobs: dict[int, list] = {}
    for s in span["stages"]:
        jobs.setdefault(s["job"], []).append(s)
    for jid, st in jobs.items():
        tr.child(name, span, min(s["start"] for s in st),
                 max(s["end"] for s in st), job=jid)


# ---------------------------------------------------------------------------
# build
# ---------------------------------------------------------------------------

class Build(_Base):
    """Repeated SketchStore.build (realistic CM, zorder, MIN_LEVEL) over
    one seeded stream: loads the ingest path, leaves serving idle."""

    name = "build"

    def setup(self, ctx):
        self.df, ev = self.events(_scaled(BUILD_ROWS, ctx.scale, 1000))
        self.rows = len(ev)
        self.expect_cells = self.oracle.sketch_cells(
            self.min_level, self.cfg.levels - 1)
        reset_peak_rss()
        # warm-up: worker start-up, code generation and JIT
        for _ in range(BUILD_WARM):
            self._build().df.unpersist()

    def _build(self):
        from spatialsketch_spark.geo.build import SketchStore
        return SketchStore.build(self.ctx.spark, self.df, self.cfg, "cm",
                                 self.min_level, mode="zorder")

    def op(self, ctx, traced: bool) -> Op:
        with ctx.tracer.span("build", enabled=traced) as sp:
            store, wall, cpu = timed(self._build)
        m = store.manifest["metrics"]
        store.df.unpersist()
        if traced:
            classify_build(ctx.tracer, sp, m)
        err = None
        if m["input_events"] != self.rows:
            err = f"input_events {m['input_events']} != {self.rows}"
        elif m["merged_events"] != self.rows * self.live_grids():
            err = (f"merged_events {m['merged_events']} != "
                   f"{self.rows} x {self.live_grids()} grids")
        elif m["sketch_cells"] != self.expect_cells:
            err = f"sketch_cells {m['sketch_cells']} != {self.expect_cells}"
        return Op(wall, cpu, self.rows, err is None, err)

    def traced_extras(self, ctx) -> list:
        """geo.joins on the same cached stream, traced once after a warm
        round: pip_join against the fixture polygons and knn_join for a
        few fresh points, both checked exactly. -> one error (or None)
        per round."""
        from spatialsketch_spark.geo.joins import (
            KNN_BRUTE_CROSSOVER_ROWS, knn_join, pip_join)
        from inputs import N
        tr = ctx.tracer
        pip_truth = self.oracle.pip_counts()
        results = []
        for traced in (False, True):
            xy = self.rng.integers(0, N, (KNN_POINTS, 2))
            pts = [(i, int(x), int(y)) for i, (x, y) in enumerate(xy.tolist())]
            with tr.span("joins.round", spark=False, enabled=traced) as root:
                with tr.span("joins.pip", root, enabled=traced) as sp:
                    pip_rows = pip_join(self.df, self.polygons) \
                        .groupBy("shape_id").count().collect()
                if traced:
                    add_job_children(tr, sp, "joins.job")
                with tr.span("joins.knn", root, enabled=traced) as sp:
                    knn_rows = knn_join(self.df, pts, k=KNN_K).collect()
                if traced:
                    add_job_children(tr, sp, "joins.job")
                    # at this size knn_join's auto rule picks the brute
                    # plan, which ranks every (event, point) pair
                    sp["candidate_rows"] = (
                        self.rows * len(pts)
                        if self.rows * len(pts) <= KNN_BRUTE_CROSSOVER_ROWS
                        else None)
                    sp["result_rows"] = len(knn_rows)
            got = [0] * len(self.polygons)
            for r in pip_rows:
                got[r["shape_id"]] = r["count"]
            want = sorted(self.oracle.knn(pts, KNN_K))
            have = sorted((r["qid"], r["rank"], r["ts"], r["dist2"])
                          for r in knn_rows)
            results.append(
                f"pip counts {got} != {pip_truth}" if got != pip_truth else
                f"knn rows {have[:2]}... != {want[:2]}..." if have != want
                else None)
        return results


def classify_build(tr, span, metrics: dict) -> None:
    """Split one traced SketchStore.build into its layers by following
    its shuffle chain. Of the stages submitted during the core build,
    the partial build is the one that reads every input event (the
    Z-order exchange's output); the stages before it are the exchange;
    the merge is the stage that reads the partials, with the stages after
    it (the count that materialises the cache). Stages submitted after
    the core build are manifest bookkeeping."""
    core_end = span["start"] + metrics["build_core_wall_s"]
    core = sorted((s for s in span["stages"] if s["start"] < core_end),
                  key=lambda s: (s["start"], s["stage"]))
    partial = [s for s in core
               if s["shuffle_read_records"] == metrics["input_events"]]
    if len(partial) != 1:
        raise RuntimeError(f"{len(partial)} stages read all "
                           f"{metrics['input_events']} input events")
    partial = partial[0]
    layer = "build.exchange"
    for s in core:
        if s is partial:
            layer = "build.partial"
        elif layer == "build.partial" and (s["shuffle_read_records"]
                                           == partial["shuffle_write_records"]):
            layer = "build.merge"
        s["layer"] = layer
        tr.child(layer, span, s["start"], s["end"], stage=s["stage"])
    if layer != "build.merge":
        raise RuntimeError("no stage reads the partial build's "
                           f"{partial['shuffle_write_records']} rows")
    bk = metrics["build_wall_s"] - metrics["build_core_wall_s"]
    tr.child("build.bookkeeping", span, core_end, core_end + bk,
             n_stages=len(span["stages"]) - len(core))
    span["partials_rows"] = partial["shuffle_write_records"]
    span["sketch_cells"] = metrics["sketch_cells"]


# ---------------------------------------------------------------------------
# serve
# ---------------------------------------------------------------------------

class Serve(_Base):
    """Fresh 600-query batches (count + freq over the fixture polygons at
    never-repeated placements) against a store built in set-up: loads the
    per-batch floor and the cover/estimator path, leaves the build idle."""

    name = "serve"

    def setup(self, ctx):
        from spatialsketch_spark.geo.build import SketchStore
        from spatialsketch_spark.geo.query import SpatialSketchEngine
        df, _ = self.events(_scaled(SERVE_ROWS, ctx.scale, 1000))
        reset_peak_rss()
        store = SketchStore.build(ctx.spark, df, self.cfg, "cm",
                                  self.min_level, mode="zorder")
        df.unpersist()
        ctx.engine = SpatialSketchEngine(store)
        self.batches = _Batches(self)
        self.per_batch = max(1, int(SERVE_BATCH * min(1.0, ctx.scale * 4))
                             // 2)
        # warm-up batches from the far end of the placement order
        for i in range(1, SERVE_WARM_BATCHES + 1):
            qs, _ = self.batches.specs(
                self.batches.order[-i * self.per_batch:][:self.per_batch])
            ctx.engine.query_values(qs)

    def op(self, ctx, traced: bool) -> Op:
        """One fresh batch. Traced, it is split into partitioner
        (QuerySpec.from_shape), dyadic (cover_2d_np over the batch's
        rects, an extra call outside the operation's time) and query
        (query_values) spans; the operation's time is query_values'."""
        from spatialsketch_spark.core.dyadic import cover_2d_np
        tr = ctx.tracer
        chosen = self.batches.take(self.per_batch)
        with tr.span("serve.batch", spark=False, enabled=traced) as root:
            with tr.span("partitioner", root, spark=False,
                         enabled=traced) as sp:
                qs, meta = self.batches.specs(chosen)
            if traced:
                sp["rects"] = sum(len(q.ranges) for q in qs)
                sp["queries"] = len(qs)
                with tr.span("dyadic", root, spark=False) as sp:
                    rects = [r for q in qs[::2] for r in q.ranges]
                    ridx = cover_2d_np(rects, self.cfg.levels - 1,
                                       self.min_level)[0]
                sp["cover_rows"] = len(ridx)
                sp["queries"] = len(qs)
            with tr.span("query", root, enabled=traced) as sp:
                res, wall, cpu = timed(lambda: ctx.engine.query_values(qs))
            if traced:
                add_job_children(tr, sp, "query.job")
        err = self.batches.check(res, meta)
        return Op(wall, cpu, len(qs), err is None, err)

    def traced_extras(self, ctx) -> list:
        """The commit path, which no timed loop reaches: one traced
        ingest_serve cycle after a warm one, on a path-backed store of
        its own."""
        ingest = IngestServe(ctx)
        ingest.setup(ctx)
        return [ingest.op(ctx, traced=True).error]


# ---------------------------------------------------------------------------
# ingest_serve
# ---------------------------------------------------------------------------

class IngestServe(_Base):
    """A path-backed store cycles merge_events(delta) -> a small fresh
    batch against the new snapshot -> expire_snapshots(keep_last=1):
    small deltas into a large base, every batch on a just-replaced
    store, every append a snapshot commit on disk. Not a timed workload
    (the run budget holds two); ``serve``'s traced run samples it."""

    name = "ingest_serve"

    def setup(self, ctx):
        from spatialsketch_spark.geo.build import SketchStore
        df, _ = self.events(_scaled(INGEST_BASE_ROWS, ctx.scale, 1000))
        self.path = os.path.join(ctx.run_dir, "store")
        self.store = SketchStore.build(ctx.spark, df, self.cfg, "cm",
                                       self.min_level, path=self.path,
                                       mode="zorder")
        df.unpersist()
        self.delta_rows = _scaled(INGEST_DELTA_ROWS, ctx.scale, 100)
        self.batches = _Batches(self)
        self.per_batch = INGEST_BATCH // 2
        self.op(ctx, traced=False, warm=True)       # warm-up cycle

    def op(self, ctx, traced: bool, warm: bool = False) -> Op:
        from spatialsketch_spark.geo.query import SpatialSketchEngine
        delta, ev = self.events(self.delta_rows)
        chosen = (self.batches.order[-self.per_batch * 2:-self.per_batch]
                  if warm else self.batches.take(self.per_batch))
        qs, meta = self.batches.specs(chosen)
        tr = ctx.tracer

        def cycle():
            with tr.span("ingest.cycle", spark=False, enabled=traced) as root:
                with tr.span("commit.merge", root, enabled=traced) as sp:
                    store = self.store.merge_events(delta)
                if traced:
                    add_job_children(tr, sp, "commit.job")
                ctx.engine = SpatialSketchEngine(store)
                with tr.span("ingest.query", root, enabled=traced) as sp:
                    res = ctx.engine.query_values(qs)
                if traced:
                    add_job_children(tr, sp, "query.job")
                with tr.span("commit.expire", root, spark=False,
                             enabled=traced):
                    store.expire_snapshots(keep_last=1)
            if traced:
                root["write_mb"] = self._snapshot_mb(store)
                root["delta_mb"] = ev.nbytes() / 1e6
            return store, res
        (store, res), wall, cpu = timed(cycle)
        delta.unpersist()
        self.store = store
        err = self.batches.check(res, meta)
        m = store.manifest["metrics"]
        if err is None and m["merged_events"] != (self.oracle.rows
                                                  * self.live_grids()):
            err = (f"merged_events {m['merged_events']} != "
                   f"{self.oracle.rows} x {self.live_grids()} grids")
        if err is None:
            kept = [f for f in os.listdir(self.path)
                    if f.startswith("manifest_s")]
            if len(kept) != 1:
                err = f"{len(kept)} snapshots kept after expire, want 1"
        return Op(wall, cpu, self.delta_rows, err is None, err)

    def _snapshot_mb(self, store) -> float:
        d = os.path.join(self.path, store.manifest["data_dir"])
        return sum(os.path.getsize(os.path.join(r, f))
                   for r, _, fs in os.walk(d) for f in fs) / 1e6


WORKLOADS = {w.name: w for w in (Build, Serve)}


# ---------------------------------------------------------------------------
# kernels: a fixed in-process update sample, timed without Spark
# ---------------------------------------------------------------------------

def kernel_sample(cfg, min_level: int, ev: Events, n: int = 200_000,
                  repeats: int = 3) -> dict:
    """core.kernels on the CM kernel the workloads use, over the first
    ``n`` events of the run's stream: the partial build's per-batch fold
    (prep_batch + build_from_groups on the finest live grid), serialize,
    and pairwise merge. Medians of ``repeats``."""
    from spatialsketch_spark.core.kernels import make_kernel
    n = min(n, len(ev))
    x, y, item = ev.x[:n], ev.y[:n], ev.item[:n]
    value, ts = ev.value[:n], ev.ts[:n]
    kernel = make_kernel("cm", cfg)
    keys = (x >> min_level) * (cfg.n >> min_level) + (y >> min_level)
    build_t, ser_t, merge_t = [], [], []
    for _ in range(repeats):
        t0 = time.perf_counter()
        uc, inv = np.unique(keys, return_inverse=True)
        prep = kernel.prep_batch(item, value, ts)
        states = kernel.build_from_groups(uc, inv, item, value, ts, prep)
        build_t.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        blobs = [kernel.serialize(s) for s in states]
        ser_t.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        for a, b in zip(states[::2], states[1::2]):
            kernel.merge([a, b])
        merge_t.append(time.perf_counter() - t0)
    pairs = max(1, len(states) // 2)
    return {
        "kernels.build_ns_per_update": float(np.median(build_t)) / n * 1e9,
        "kernels.serialize_us_per_state":
            float(np.median(ser_t)) / len(states) * 1e6,
        "kernels.merge_us_per_state": float(np.median(merge_t)) / pairs * 1e6,
        "kernels.state_bytes": float(np.mean([len(b) for b in blobs])),
    }
