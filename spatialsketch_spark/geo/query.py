"""Range-aggregate query path — the Spark re-expression of
``SpatialSketch::QueryRanges`` (SpatialSketch.cpp:837-855 dispatch and
the per-sketch query kernels C6-C10 in SURVEY.md §2).

Per batch: polygon -> rectangles (driver, Partitioner) -> dyadic cover
rewritten against live grids (driver, effective_cover — replaces the
reference's dropped-grid recursion SpatialSketch.cpp:802-832), expanded
once per distinct rect-set ("pid") into one Arrow cover table -> join
against the sketch table pruned to the cover's grid keys (broadcast, or
a shuffle against the bucketed cache past BROADCAST_COVER_ROWS) -> ONE
matched relation (pid, coverage, sketch columns). Per-query metadata
never enters the plan; it travels in the task closure of
``_partials``, which answers both query classes from that relation:

  additive kinds: one mapInPandas estimates every (cell, query) pair
            where the join output lives and emits per-partition
            (qid, partial) sums — only scalars leave the task.
  merge kinds: repartition(pid) -> mapInPandas merges each rect-set's
            de-duplicated cell states once, then answers its queries.

``query()`` sums the partials per qid as a DataFrame; ``query_values()``
collects them and folds on the driver.

Query kinds and their reference semantics:
  count     sum over cells of trunc(coverage * cell value sum), from the
            val_sum column (reference 'Count' synopsis, Table 3a)
  freq      sum over cells of trunc(coverage * min-row CM estimate)
            (QueryFrequency SpatialSketch.cpp:857-896; trunc-to-int per
            sub-query :766,781-792)
  range_freq same with an item range via per-cell dyadic-CM
            (DyadCountMin Query path)
  window    ECM HistSum per cell with t0, min over rows, coverage-scaled
            (ECM query path :1175-1221)
  distinct  OR-merge FM bitmaps across cells, then estimate
            (QueryCountDistinct :947-994)
  member    BF probe per cell, any-positive (QueryMembership :1050-1089)
  l2        elementwise-add CM counters across cells, then min-row
            sum-of-squares (QueryRangesL2 :1142-1173)
  window_merge merge the cells' ECM histograms, then one HistSum
            (ECM_merge mode :1175-1221)
Only the two window kinds take a start time ``t0``; any other kind
given one is refused before a job runs.

Every kind but ``count`` is answered by the store's kernel
(``core/kernels.py``): its ``qkinds`` names the kinds it answers, and
its ``additive_ests`` / ``merged_est`` answer them; this module only
dispatches. The ``exact`` kernel answers every kind exactly
(collision-free mode) — that is what the DuckDB oracle gate exercises.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

from ..core.dyadic import cover_2d_np, effective_cover
from ..core.kernels import int_group_sum, make_kernel
from ..core.partitioner import Shape, shape_to_ranges
from .build import SketchStore

COVER_SCHEMA = "pid BIGINT, grid_key INT, cell BIGINT, coverage DOUBLE"
RESULT_SCHEMA = "qid BIGINT, est BIGINT"

# sum over cells of trunc(coverage * cell estimate); every other kind
# merges the cells' states before estimating
ADDITIVE = frozenset({"count", "freq", "range_freq", "window"})


@dataclass
class QuerySpec:
    qid: int
    ranges: list          # [(x1, y1, x2, y2)] inclusive integer cell ranges
    qkind: str = "freq"   # "count" or one of the kernel's qkinds
    item: int = -1
    item_end: int = -1
    t0: int = -1

    @staticmethod
    def from_shape(qid: int, shape: Shape, qkind: str = "freq",
                   item: int = -1, item_end: int = -1, t0: int = -1,
                   x_off: int = 0, y_off: int = 0) -> "QuerySpec":
        return QuerySpec(qid, shape_to_ranges(shape, x_off, y_off),
                         qkind, item, item_end, t0)


def _additive_partials(cfg, kind: str, pid_queries: list):
    """mapInPandas over matched rows (pid, coverage, val_sum, payload):
    every row expands to (row, query) entries for its pid's additive
    queries — count entries read val_sum, every other entry its row's
    payload through the kernel's ``additive_ests`` — and the scaled
    estimates fold to one (qid, partial) row per qid per partition.
    ``pid_queries[pid]`` is that pid's additive queries; the closure
    carries them as flat numpy columns in pid order (KBs for any
    realistic batch)."""
    cnt = np.array([len(qs) for qs in pid_queries], dtype=np.int64)
    start = np.cumsum(cnt) - cnt
    flat = [q for qs in pid_queries for q in qs]
    qids = np.array([q.qid for q in flat], dtype=np.int64)
    qkinds = np.array([q.qkind for q in flat], dtype=object)
    items = np.array([q.item for q in flat], dtype=np.int64)
    iends = np.array([q.item_end for q in flat], dtype=np.int64)
    t0s = np.array([q.t0 for q in flat], dtype=np.int64)

    def fn(batches):
        kernel = make_kernel(kind, cfg)
        sums: dict[int, int] = {}
        for pdf in batches:
            if not len(pdf):
                continue
            pids = pdf["pid"].to_numpy(np.int64)
            nq = cnt[pids]
            row = np.repeat(np.arange(len(pdf)), nq)
            # a row's entries are its pid's contiguous query slice
            qpos = np.repeat(start[pids] - (np.cumsum(nq) - nq), nq) \
                + np.arange(len(row))
            ests = pdf["val_sum"].to_numpy(np.int64)[row]
            sel = qkinds[qpos] != "count"
            if sel.any():
                # each matched payload is deserialized once, however
                # many entries read it
                urows, ent = np.unique(row[sel], return_inverse=True)
                p = qpos[sel]
                ests[sel] = kernel.additive_ests(
                    pdf["payload"].to_numpy()[urows], ent, qkinds[p],
                    items[p], iends[p], t0s[p])
            covs = pdf["coverage"].to_numpy(np.float64)
            # trunc per sub-query, exactly as the reference (:766) —
            # values are non-negative so floor == trunc
            contrib = np.floor(covs[row] * ests).astype(np.int64)
            uq, inv = np.unique(qids[qpos], return_inverse=True)
            part = int_group_sum(inv, contrib, len(uq))
            for q, v in zip(uq.tolist(), part.tolist()):
                sums[q] = sums.get(q, 0) + v
        if sums:
            yield pd.DataFrame({
                "qid": pd.array(list(sums.keys()), dtype="int64"),
                "est": pd.array(list(sums.values()), dtype="int64"),
            })

    return fn


def _merge_partials(cfg, kind: str, pid_queries: list):
    """mapInPandas after repartition(pid): all of a rect-set's matched
    cells share a partition; each pid's states are deserialized once
    and answer every merge query of that pid (``pid_queries[pid]``)."""

    def fn(batches):
        kernel = make_kernel(kind, cfg)
        chunks = [pdf for pdf in batches if len(pdf)]
        if not chunks:
            return
        allpdf = pd.concat(chunks, ignore_index=True)
        # merge-kind semantics ignore coverage (states are merged, not
        # scaled), so two disjoint rects of one rect-set hitting the
        # same floor-level cell must contribute that cell's state ONCE —
        # without this dedup the duplicated counters inflate l2 /
        # window_merge results for unaligned multi-rect regions. Every
        # store holds one row per (grid_key, cell) (a snapshot with
        # deltas merges on read), so this drops cover duplicates only.
        allpdf = allpdf.drop_duplicates(subset=["pid", "grid_key", "cell"])
        out_qid, out_est = [], []
        for pid, grp in allpdf.groupby("pid", sort=False):
            states = [kernel.deserialize(b) for b in grp["payload"]]
            for q in pid_queries[int(pid)]:
                out_qid.append(q.qid)
                out_est.append(kernel.merged_est(
                    states, q.qkind, q.item, q.item_end, q.t0))
        yield pd.DataFrame({"qid": pd.array(out_qid, dtype="int64"),
                            "est": pd.array(out_est, dtype="int64")})

    return fn


class SpatialSketchEngine:
    """One sketch store + its query surface."""

    def __init__(self, store: SketchStore):
        self.store = store

    def _cover_table(self, pid_ranges: list) -> pa.Table:
        """Driver-side cover of ``[(pid, ranges)]`` as one Arrow table
        (COVER_SCHEMA): numpy cross-product covers when no grid is
        dropped, ``effective_cover``'s rewrite otherwise. Arrow straight
        from numpy skips the pandas block consolidation and the
        row-based py4j conversion (~2x faster plan assembly than
        createDataFrame(pandas) at cover sizes, PLANS.md)."""
        cfg = self.store.cfg
        log_n, floor_k = cfg.levels - 1, self.store.min_level
        rects = [r for _, rs in pid_ranges for r in rs]
        rect_pid = np.array([pid for pid, rs in pid_ranges for _ in rs],
                            dtype=np.int64)
        if not cfg.dropped_grids:
            ridx, kx, ky, cx, cy, cov = cover_2d_np(rects, log_n, floor_k)
        else:
            elems = [(i, *e) for i, (x1, y1, x2, y2) in enumerate(rects)
                     for e in effective_cover(x1, y1, x2, y2, log_n,
                                              cfg.dropped_grids,
                                              floor_k=floor_k)]
            ridx, kx, ky, cx, cy = np.array(
                [e[:5] for e in elems], dtype=np.int64).reshape(-1, 5).T
            cov = np.array([e[5] for e in elems], dtype=np.float64)
        return pa.table({
            "pid": rect_pid[ridx],
            "grid_key": (kx + ky * cfg.levels).astype(np.int32),
            "cell": (cx * cfg.n + cy).astype(np.int64),
            "coverage": cov.astype(np.float64),
        })

    def _cover_df(self, pid_ranges: list) -> DataFrame:
        """pid-keyed cover DataFrame (COVER_SCHEMA) over
        ``[(pid, ranges)]``."""
        return self.store.spark.createDataFrame(
            self._cover_table(pid_ranges), schema=COVER_SCHEMA)

    # broadcast the cover relation up to this many rows (~60 B/row ->
    # ~200 MB broadcast ceiling); beyond it, shuffle-join against the
    # bucketed sketch cache instead
    BROADCAST_COVER_ROWS = 3_000_000

    # scan-side task sizing for the broadcast-probe path: the store is
    # cached/written with the BUILD's parallelism (one partition per
    # shuffle slot), but a probe batch touches O(queries · log²N) cells
    # — scanning a sandbox-scale store with 32 near-empty tasks pays
    # pure scheduling + Arrow-worker overhead (~25% of the 600-query
    # batch floor, measured). Bound the scan to ~32k cells/task via
    # coalesce, which NEVER increases partitioning: at 100 TB the store
    # has far more cells per partition than this and the coalesce is a
    # no-op, while a laptop-scale store drops to a handful of tasks.
    CELLS_PER_SCAN_TASK = 32_768

    def _scan_tasks(self):
        cells = (self.store.manifest or {}).get(
            "metrics", {}).get("sketch_cells")
        if not cells:
            return None
        return max(1, -(-int(cells) // self.CELLS_PER_SCAN_TASK))

    def _matched_pids(self, queries: list[QuerySpec]):
        """The matched relation at PLACEMENT granularity: identical
        rect-sets (e.g. the count and the freq probe of one placement,
        or repeated canned regions) share a pid, so the cover is
        expanded and joined once per DISTINCT rect-set. Returns
        (matched DataFrame (grid_key, cell, sketch columns, pid,
        coverage), the pid of each query)."""
        groups: dict[tuple, int] = {}
        pid_ranges: list = []
        qpid = []
        for q in queries:
            pid = groups.setdefault(tuple(map(tuple, q.ranges)), len(groups))
            if pid == len(pid_ranges):
                pid_ranges.append((pid, q.ranges))
            qpid.append(pid)
        tbl = self._cover_table(pid_ranges)
        cover = self.store.spark.createDataFrame(tbl, schema=COVER_SCHEMA)
        # exact grid_key pruning list, from the cover itself
        needed = np.unique(tbl["grid_key"].to_numpy()).tolist()
        if tbl.num_rows <= self.BROADCAST_COVER_ROWS:
            # broadcast the cover -> zero shuffle on the sketch side;
            # the broadcast exchange is canonically identical across
            # the additive and merge branches, so ReuseExchange
            # materializes the cover ONCE per batch.
            pruned = self.store.df.where(F.col("grid_key").isin(needed))
            nt = self._scan_tasks()
            if nt is not None:
                pruned = pruned.coalesce(nt)
            m = pruned.join(F.broadcast(cover), ["grid_key", "cell"])
        else:
            # cover too large to broadcast -> shuffle join against the
            # BUCKETED sketch cache: its (grid_key, cell) hash
            # partitioning is reused by the join, so only the cover side
            # shuffles — the payload blobs stay put (at cluster scale:
            # a bucketed table).
            pruned = self.store.bucketed_df().where(
                F.col("grid_key").isin(needed))
            m = pruned.join(cover, ["grid_key", "cell"])
        return m, qpid

    def _partials(self, queries: list[QuerySpec]) -> DataFrame:
        """-> DataFrame(qid, est) of per-partition partial answers; a
        qid's answer is the sum of its rows (merge kinds emit one row
        per qid). Validates every query, then adds an additive and/or a
        merge branch over ONE matched relation — each only when the
        batch has queries of that class."""
        qkinds = make_kernel(self.store.kind, self.store.cfg).qkinds
        for q in queries:
            if q.qkind != "count" and q.qkind not in qkinds:
                raise ValueError(
                    f"query kind {q.qkind!r} is not answerable by a "
                    f"{self.store.kind!r} store (it answers count and "
                    f"{sorted(qkinds)})")
            if q.t0 >= 0 and q.qkind not in ("window", "window_merge"):
                raise ValueError(
                    f"t0={q.t0} on a {q.qkind!r} query: only window and "
                    "window_merge queries take a start time")
        spark = self.store.spark
        cfg = self.store.cfg
        m, qpid = self._matched_pids(queries)
        n_pids = max(qpid, default=-1) + 1
        add_q = [[] for _ in range(n_pids)]
        mrg_q = [[] for _ in range(n_pids)]
        for pid, q in zip(qpid, queries):
            (add_q if q.qkind in ADDITIVE else mrg_q)[pid].append(q)

        def rows_of(pid_queries):
            # only the pids that carry queries of this class
            pids = [p for p, qs in enumerate(pid_queries) if qs]
            if len(pids) == n_pids:
                return m, pids
            return m.where(F.col("pid").isin(pids)), pids

        parts = []
        rows, pids = rows_of(add_q)
        if pids:
            # pids asking only counts never read the blob: NULL it
            # before the Arrow transfer
            blind = [p for p in pids
                     if all(q.qkind == "count" for q in add_q[p])]
            payload = F.col("payload")
            if blind:
                payload = F.when(F.col("pid").isin(blind), F.lit(None)) \
                    .otherwise(payload)
            parts.append(
                rows.select("pid", "coverage", "val_sum",
                            payload.alias("payload"))
                .mapInPandas(_additive_partials(cfg, self.store.kind,
                                                add_q),
                             schema=RESULT_SCHEMA))
        rows, pids = rows_of(mrg_q)
        if pids:
            n_parts = min(len(pids), int(spark.conf.get(
                "spark.sql.shuffle.partitions")))
            parts.append(
                rows.select("pid", "grid_key", "cell", "payload")
                .repartition(n_parts, "pid")
                .mapInPandas(_merge_partials(cfg, self.store.kind, mrg_q),
                             schema=RESULT_SCHEMA))
        if not parts:
            return spark.createDataFrame([], schema=RESULT_SCHEMA)
        return reduce(DataFrame.unionByName, parts)

    def query(self, queries: list[QuerySpec]) -> DataFrame:
        """-> DataFrame(qid, est), one row per query; missing-cell-safe
        (untouched cells contribute 0, the analogue of lazily-
        unallocated sketches). The surface for SQL-integrated consumers
        (the driver gate included): ``_partials`` summed per qid, then a
        broadcast fill for queries that matched no cell. Raises
        ValueError for a query kind the store's kernel cannot answer."""
        res = self._partials(queries).groupBy("qid").agg(
            F.sum("est").cast("bigint").alias("est"))
        all_qids = self.store.spark.createDataFrame(
            [(q.qid,) for q in queries], schema="qid BIGINT")
        # the aggregated result is <= |queries| rows — broadcast it so
        # the missing-qid fill join never plans an SMJ (two exchanges +
        # sorts for a few hundred rows; AQE usually rescues this at
        # runtime, but the hint makes it the planned shape)
        return (all_qids.join(F.broadcast(res), "qid", "left")
                .select("qid", F.coalesce("est", F.lit(0)).alias("est")))

    def query_values(self, queries: list[QuerySpec]) -> dict:
        """Low-latency batch answers -> {qid: est}, equal to ``query()``
        (asserted in tests/test_plans.py). The same ``_partials`` — at
        most |queries| x #partitions tiny (qid, est) rows — are
        collected and folded on the DRIVER instead of flowing through a
        groupBy shuffle plus a qid-fill broadcast join, so each batch
        sheds one shuffle stage, one broadcast exchange and one job.

        Scale posture: the driver fold is O(|queries|) — exactly the
        size of the answer the caller receives either way (the
        reference's query API returns the same, SpatialSketch.cpp:
        837-855); no payload or per-cell row is ever collected."""
        out = {q.qid: 0 for q in queries}
        for r in self._partials(queries).collect():
            out[int(r["qid"])] += int(r["est"])
        return out
