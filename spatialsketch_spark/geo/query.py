"""Range-aggregate query path — the Spark re-expression of
``SpatialSketch::QueryRanges`` (SpatialSketch.cpp:837-855 dispatch and
the per-sketch query kernels C6-C10 in SURVEY.md §2).

Per batch, on the driver: polygon -> rectangles (Partitioner) -> dyadic
cover rewritten against live grids (effective_cover — replaces the
reference's dropped-grid recursion SpatialSketch.cpp:802-832), expanded
once per distinct rect-set ("pid") into one cover table (pid, grid_key,
cell, coverage). Per-query metadata never enters a plan; it travels in
task closures (``_ClassQueries``). The cover meets the store's cells on
one of two paths, with the same estimators and bit-identical answers:

  index path (batches of additive kinds only): the store's probe index
            (``SketchStore.serving_index``), one block per table
            partition: keys ``grid_key·N² + cell`` sorted, their val_sum
            and payload bytes, written once to a file on the executor
            that packed it; Spark caches only the paths. ONE
            mapPartitions job: each task memory-maps its block, probes
            it with np.searchsorted and returns (qid, partial) sums
            (count entries never decode a payload); the driver adds them
            up. A task whose executor lacks its block file fails the job
            with a marked error: the batch is answered on the SQL path
            and the next additive batch packs a new index.
  SQL path: the cover as a DataFrame joined to the sketch table pruned
            to the cover's grid keys (broadcast, or a shuffle against the
            bucketed cache past BROADCAST_COVER_ROWS) -> ONE matched
            relation. Additive kinds: one mapInPandas emits
            per-partition (qid, partial) sums. Merge kinds:
            repartition(pid) -> mapInPandas merges each rect-set's
            de-duplicated cell states once.

Path rule, with no option. A batch with any merge kind takes the SQL
path, which merges in tasks: on the index path every matched payload
would reach the driver. Measured on perfbench's ``serve`` events (an
82 MB CM store asked count + l2, a 130 MB FM store asked count +
distinct, 600 queries a batch; 4-core VM, local[2]), the index was
2.3-2.4x faster, but the driver's RSS peaked 35-39 MB higher over ten
batches. Of the other batches, a store's first takes the SQL path, and
so does every one of a store whose manifest ``payload_bytes`` exceed
INDEX_BUDGET_BYTES (or that has none); the rest take the index. A store
queried once never packs an index, and a large store keeps the join.
The index was timed faster on stores up to 391 MB; the budget stays
below that. Tests force the SQL path by setting INDEX_BUDGET_BYTES to
0, and the index path by serving one additive batch first.

``query()`` and ``query_values()`` take the same path: on the index path
``query()`` wraps the driver's sums in a local DataFrame; on the SQL
path it sums the partials per qid as a DataFrame, and ``query_values()``
collects them and folds on the driver. No path collects a payload.

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
its ``additive_ests`` / ``merged_est`` answer them on both paths; this
module only dispatches. The ``exact`` kernel answers every kind exactly
(collision-free mode) — that is what the DuckDB oracle gate exercises.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce

import numpy as np
import pandas as pd
import pyarrow as pa
from py4j.java_gateway import is_instance_of
from py4j.protocol import Py4JJavaError
from pyspark.errors import PythonException
from pyspark.sql import DataFrame, functions as F

from ..core.dyadic import cover_2d_np, effective_cover
from ..core.kernels import int_group_sum, make_kernel
from ..core.partitioner import Shape, shape_to_ranges
from .build import BLOCK_MISSING, SketchStore

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


class _ClassQueries:
    """One query class's queries of a batch: ``by_pid[pid]`` is a pid's
    list, and the additive fields ride along as flat numpy columns in
    pid order (KBs for any realistic batch). Travels in task closures;
    per-query metadata never enters a plan."""

    def __init__(self, by_pid: list):
        self.by_pid = by_pid
        self.pids = [p for p, qs in enumerate(by_pid) if qs]
        self.cnt = np.array([len(qs) for qs in by_pid], dtype=np.int64)
        self.start = np.cumsum(self.cnt) - self.cnt
        flat = [q for qs in by_pid for q in qs]
        self.qids = np.array([q.qid for q in flat], dtype=np.int64)
        self.qkinds = np.array([q.qkind for q in flat], dtype=object)
        self.items = np.array([q.item for q in flat], dtype=np.int64)
        self.iends = np.array([q.item_end for q in flat], dtype=np.int64)
        self.t0s = np.array([q.t0 for q in flat], dtype=np.int64)

    def additive(self, kernel, pids, covs, val_sums, payloads):
        """Matched rows -> (qids, partial sums). Row i is a cell of
        rect-set ``pids[i]`` at coverage ``covs[i]`` with value sum
        ``val_sums[i]``; ``payloads(rows)`` returns those rows' payload
        bytes. Every row expands to (row, query) entries for its pid's
        queries: count entries read val_sum, every other entry its row's
        payload through the kernel's ``additive_ests`` (each payload
        deserialized once, however many entries read it), and the
        coverage-scaled estimates sum per qid."""
        nq = self.cnt[pids]
        row = np.repeat(np.arange(len(pids)), nq)
        # a row's entries are its pid's contiguous query slice
        qpos = np.repeat(self.start[pids] - (np.cumsum(nq) - nq), nq) \
            + np.arange(len(row))
        ests = val_sums[row]
        sel = self.qkinds[qpos] != "count"
        if sel.any():
            urows, ent = np.unique(row[sel], return_inverse=True)
            p = qpos[sel]
            ests[sel] = kernel.additive_ests(
                payloads(urows), ent, self.qkinds[p], self.items[p],
                self.iends[p], self.t0s[p])
        # trunc per sub-query, exactly as the reference (:766) — values
        # are non-negative so floor == trunc
        contrib = np.floor(covs[row] * ests).astype(np.int64)
        uq, inv = np.unique(self.qids[qpos], return_inverse=True)
        return uq, int_group_sum(inv, contrib, len(uq))


def _additive_fn(cfg, kind: str, add: _ClassQueries):
    """SQL path, mapInPandas over matched rows (pid, coverage, val_sum,
    payload) -> one (qid, partial) row per qid per partition."""

    def fn(batches):
        kernel = make_kernel(kind, cfg)
        sums: dict[int, int] = {}
        for pdf in batches:
            if not len(pdf):
                continue
            payload = pdf["payload"].to_numpy()
            uq, part = add.additive(
                kernel, pdf["pid"].to_numpy(np.int64),
                pdf["coverage"].to_numpy(np.float64),
                pdf["val_sum"].to_numpy(np.int64), lambda u: payload[u])
            for q, v in zip(uq.tolist(), part.tolist()):
                sums[q] = sums.get(q, 0) + v
        if sums:
            yield pd.DataFrame({
                "qid": pd.array(list(sums.keys()), dtype="int64"),
                "est": pd.array(list(sums.values()), dtype="int64"),
            })

    return fn


def _merge_fn(cfg, kind: str, mrg: _ClassQueries):
    """SQL path, mapInPandas after repartition(pid): all of a rect-set's
    matched cells share a partition; each pid's states are deserialized
    once and answer every merge query of that pid."""

    def fn(batches):
        kernel = make_kernel(kind, cfg)
        chunks = [pdf for pdf in batches if len(pdf)]
        if not chunks:
            return
        allpdf = pd.concat(chunks, ignore_index=True)
        # merge-kind semantics ignore coverage (states are merged, not
        # scaled), so two rects of one rect-set hitting the same
        # floor-level cell must contribute that cell's state ONCE. Every
        # store holds one row per (grid_key, cell) (a snapshot with
        # deltas merges on read), so this drops cover duplicates only.
        allpdf = allpdf.drop_duplicates(subset=["pid", "grid_key", "cell"])
        out_qid, out_est = [], []
        for pid, grp in allpdf.groupby("pid", sort=False):
            states = [kernel.deserialize(b) for b in grp["payload"]]
            for q in mrg.by_pid[int(pid)]:
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

    # broadcast the cover relation up to this many rows (~60 B/row ->
    # ~200 MB broadcast ceiling); beyond it, shuffle-join against the
    # bucketed sketch cache instead
    BROADCAST_COVER_ROWS = 3_000_000

    # manifest payload bytes up to which a store answers its second and
    # later additive batches from its probe index. The budget bounds the
    # one-off pack (2.3, 4.1 and 5.6 s for CM stores of 155, 258 and
    # 391 MB) and the executors' local disk the block files take (a
    # second copy of the table). Timed when each batch still streamed
    # every block from the JVM, with 600 count + freq queries a batch on
    # those stores (4-core VM, local[2]): index 345, 458, 579 ms against
    # SQL 903, 828, 789 ms. Larger stores are untimed; the budget stays
    # below the largest store timed.
    INDEX_BUDGET_BYTES = 300_000_000

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

    def _plan(self, queries: list[QuerySpec]):
        """Validate every query and group the batch by rect-set:
        identical rect-sets (e.g. the count and the freq probe of one
        placement, or repeated canned regions) share a pid, so the cover
        is expanded and matched once per DISTINCT rect-set. -> (pid
        ranges, additive ``_ClassQueries`` or None, merge
        ``_ClassQueries`` or None)."""
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
        groups: dict[tuple, int] = {}
        pid_ranges, add, mrg = [], [], []
        for q in queries:
            pid = groups.setdefault(tuple(map(tuple, q.ranges)), len(groups))
            if pid == len(pid_ranges):
                pid_ranges.append((pid, q.ranges))
                add.append([])
                mrg.append([])
            (add if q.qkind in ADDITIVE else mrg)[pid].append(q)
        return (pid_ranges, _ClassQueries(add) if any(add) else None,
                _ClassQueries(mrg) if any(mrg) else None)

    def _index_values(self, index, queries: list[QuerySpec], pid_ranges,
                      add) -> dict | None:
        """Index path -> {qid: est}: ONE mapPartitions job over the
        store's probe index. Each task memory-maps its key-sorted block,
        probes it for the cover's keys with ``np.searchsorted`` and
        returns its (qids, partials); the driver sums them. -> None when
        a task's executor lacked its block file: the store's index is
        dropped and the caller answers the batch on the SQL path."""
        cover = self._cover_table(pid_ranges)
        cfg, kind = self.store.cfg, self.store.kind
        ckey = cover["grid_key"].to_numpy().astype(np.int64) \
            * (cfg.n * cfg.n) + cover["cell"].to_numpy()
        cpid = cover["pid"].to_numpy()
        ccov = cover["coverage"].to_numpy()

        def probe(blocks):
            kernel = make_kernel(kind, cfg)
            for key, val_sum, lo, hi, data in blocks:
                if not len(key):
                    continue
                pos = np.minimum(np.searchsorted(key, ckey), len(key) - 1)
                hit = key[pos] == ckey
                rows = pos[hit]
                yield add.additive(
                    kernel, cpid[hit], ccov[hit], val_sum[rows],
                    lambda u: [data[lo[j]:hi[j]].tobytes()
                               for j in rows[u].tolist()])

        try:
            parts = index.mapPartitions(probe).collect()
        except Py4JJavaError as e:
            # a task's Python error (a kernel guard's ValueError) surfaces
            # as a PythonException, as it does on the SQL path
            cause = e.java_exception.getCause()
            if cause is None or not is_instance_of(
                    self.store.spark.sparkContext._gateway, cause,
                    "org.apache.spark.api.python.PythonException"):
                raise
            if BLOCK_MISSING in cause.getMessage():
                self.store.drop_index()
                return None
            raise PythonException(
                "\n  An exception was thrown from the Python worker. "
                "Please see the stack trace below.\n"
                + cause.getMessage()) from None
        out = {q.qid: 0 for q in queries}
        for uq, part in parts:
            for q, v in zip(uq.tolist(), part.tolist()):
                out[q] += v
        return out

    def _index_answers(self, queries, pid_ranges, add, mrg) -> dict | None:
        """The batch's answers from the store's probe index, or None
        for the SQL path (the rule is in the module docstring): only a
        batch of additive kinds asks the store, which counts it."""
        if add is None or mrg is not None:
            return None
        index = self.store.serving_index(self.INDEX_BUDGET_BYTES)
        if index is None:
            return None
        return self._index_values(index, queries, pid_ranges, add)

    def _matched(self, cover: pa.Table) -> DataFrame:
        """SQL path: the cover joined to the sketch table pruned to the
        cover's grid keys -> ONE matched relation (grid_key, cell, sketch
        columns, pid, coverage)."""
        df = self.store.spark.createDataFrame(cover, schema=COVER_SCHEMA)
        # exact grid_key pruning list, from the cover itself
        needed = np.unique(cover["grid_key"].to_numpy()).tolist()
        if cover.num_rows <= self.BROADCAST_COVER_ROWS:
            # broadcast the cover -> zero shuffle on the sketch side;
            # the broadcast exchange is canonically identical across
            # the additive and merge branches, so ReuseExchange
            # materializes the cover ONCE per batch.
            return self.store.df.where(F.col("grid_key").isin(needed)) \
                .join(F.broadcast(df), ["grid_key", "cell"])
        # cover too large to broadcast -> shuffle join against the
        # BUCKETED sketch cache: its (grid_key, cell) hash partitioning
        # is reused by the join, so only the cover side shuffles — the
        # payload blobs stay put (at cluster scale: a bucketed table).
        return self.store.bucketed_df() \
            .where(F.col("grid_key").isin(needed)) \
            .join(df, ["grid_key", "cell"])

    def _sql_partials(self, pid_ranges, add, mrg) -> DataFrame:
        """SQL path -> DataFrame(qid, est) of per-partition partial
        answers; a qid's answer is the sum of its rows (merge kinds emit
        one row per qid). One additive and/or one merge branch over ONE
        matched relation, each only when the batch has queries of that
        class."""
        spark = self.store.spark
        cfg, kind = self.store.cfg, self.store.kind
        m = self._matched(self._cover_table(pid_ranges))

        def rows_of(cq):
            # only the pids that carry queries of this class
            if len(cq.pids) == len(pid_ranges):
                return m
            return m.where(F.col("pid").isin(cq.pids))

        parts = []
        if add is not None:
            # pids asking only counts never read the blob: NULL it
            # before the Arrow transfer
            blind = [p for p in add.pids
                     if all(q.qkind == "count" for q in add.by_pid[p])]
            payload = F.col("payload")
            if blind:
                payload = F.when(F.col("pid").isin(blind), F.lit(None)) \
                    .otherwise(payload)
            parts.append(
                rows_of(add).select("pid", "coverage", "val_sum",
                                    payload.alias("payload"))
                .mapInPandas(_additive_fn(cfg, kind, add),
                             schema=RESULT_SCHEMA))
        if mrg is not None:
            n_parts = min(len(mrg.pids), int(spark.conf.get(
                "spark.sql.shuffle.partitions")))
            parts.append(
                rows_of(mrg).select("pid", "grid_key", "cell", "payload")
                .repartition(n_parts, "pid")
                .mapInPandas(_merge_fn(cfg, kind, mrg),
                             schema=RESULT_SCHEMA))
        if not parts:
            return spark.createDataFrame([], schema=RESULT_SCHEMA)
        return reduce(DataFrame.unionByName, parts)

    def query(self, queries: list[QuerySpec]) -> DataFrame:
        """-> DataFrame(qid, est), one row per query; missing-cell-safe
        (untouched cells contribute 0, the analogue of lazily-
        unallocated sketches). The surface for SQL-integrated consumers
        (the driver gate included). On the index path the answers are
        computed now and wrapped in a local DataFrame; on the SQL path
        the partials are summed per qid, then a broadcast fill adds the
        queries that matched no cell. Raises ValueError for a query kind
        the store's kernel cannot answer."""
        spark = self.store.spark
        pid_ranges, add, mrg = self._plan(queries)
        vals = self._index_answers(queries, pid_ranges, add, mrg)
        if vals is not None:
            return spark.createDataFrame(pa.table({
                "qid": pa.array(list(vals), pa.int64()),
                "est": pa.array(list(vals.values()), pa.int64())}),
                schema=RESULT_SCHEMA)
        res = self._sql_partials(pid_ranges, add, mrg).groupBy("qid").agg(
            F.sum("est").cast("bigint").alias("est"))
        all_qids = spark.createDataFrame(
            [(q.qid,) for q in queries], schema="qid BIGINT")
        # the aggregated result is <= |queries| rows — broadcast it so
        # the missing-qid fill join never plans an SMJ (two exchanges +
        # sorts for a few hundred rows; AQE usually rescues this at
        # runtime, but the hint makes it the planned shape)
        return (all_qids.join(F.broadcast(res), "qid", "left")
                .select("qid", F.coalesce("est", F.lit(0)).alias("est")))

    def query_values(self, queries: list[QuerySpec]) -> dict:
        """Low-latency batch answers -> {qid: est}, equal to ``query()``
        (asserted in tests/test_plans.py) on either path. On the SQL
        path the same partials — at most |queries| x #partitions tiny
        (qid, est) rows — are collected and folded on the DRIVER instead
        of flowing through a groupBy shuffle plus a qid-fill broadcast
        join, so each batch sheds one shuffle stage, one broadcast
        exchange and one job.

        Scale posture: the driver fold is O(|queries|) — exactly the
        size of the answer the caller receives either way (the
        reference's query API returns the same, SpatialSketch.cpp:
        837-855); no payload or per-cell row is ever collected."""
        pid_ranges, add, mrg = self._plan(queries)
        vals = self._index_answers(queries, pid_ranges, add, mrg)
        if vals is not None:
            return vals
        out = {q.qid: 0 for q in queries}
        for r in self._sql_partials(pid_ranges, add, mrg).collect():
            out[int(r["qid"])] += int(r["est"])
        return out
