"""Sketch-table build pipeline — the Spark re-expression of
``SpatialSketch::Update`` (SpatialSketch.cpp:535-599).

Reference (per tuple): fan out to the (log2 N + 1)^2 dyadic grids, update
one lazily-allocated nested sketch per grid. Here (per partition):

  events ── mapInArrow(partial build: the partition's events grouped into
            the cells of every live grid with ONE sort per x-level —
            coarser y-levels are runs of the finer level's sorted cells;
            per grid one kernel fold and one vectorized payload encode
            into a single (offsets, data) buffer pair -> one Arrow batch
            per grid, one row per touched (grid, cell))
         ── hash shuffle on (grid_key, cell)
         ── mapInArrow(merge partials; single partials pass through)
         ── sketch table (grid_key, cell, payload, n_events, val_sum)

Events must lie on the grid: an x or y outside [0, N) raises instead of
aliasing into a neighbouring cell key. Stored payloads are the kernels'
canonical ``serialize`` bytes, whatever path produced them.

This is a *manual map-side combine*: the shuffle carries at most
(#partitions x #touched cells) sketch partials — independent of event
count — and the hot-cell skew problem (coarse grids receive every event,
SURVEY.md §7) is structurally bounded: a cell has at most #partitions
partials to merge. Sketch merges are commutative monoids (CM add
CountMin.cpp:196-202, FM/BF or FM.cpp:154-172, ECM via MergeECM
ECM.cpp:316-348), so the result is partitioning-invariant — asserted in
tests/test_geo_pipeline.py by building at different parallelism.

Scale posture (100 TB / 10^12 docs): the pyramid is capped at
``min_level`` (finest grid 2^(L-min_level) per axis) — the practical
analogue of the reference's memory quota, which also cannot hold fine
grids (37 MB / 336 B-CM ~ 110k cells, SpatialSketch.cpp:311-316).
Sketch-table size is O(live grids x touched cells x sketch bytes),
independent of stream length — the table-level mirror of the reference's
constant-memory claim (Tech Report §5.2).
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import time
import uuid

import numpy as np
import pyarrow as pa
from pyspark import SparkFiles, TaskContext
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..config import SketchConfig
from ..core.kernels import make_kernel
from .layout import zorder_col

SKETCH_SCHEMA = ("grid_key INT, cell BIGINT, payload BINARY, "
                 "n_events BIGINT, val_sum BIGINT")
ARROW_SCHEMA = pa.schema([("grid_key", pa.int32()), ("cell", pa.int64()),
                          ("payload", pa.binary()),
                          ("n_events", pa.int64()), ("val_sum", pa.int64())])


def live_grids(cfg: SketchConfig, min_level: int) -> list[tuple[int, int]]:
    L = cfg.levels - 1
    return [(kx, ky) for kx in range(min_level, L + 1)
            for ky in range(min_level, L + 1)
            if (kx, ky) not in cfg.dropped_grids]


def pyramid_groups(x: np.ndarray, y: np.ndarray, values: np.ndarray,
                   n: int, grids: list[tuple[int, int]]):
    """Group one batch of events into the cells of every grid in
    ``grids`` with one sort per x-level. Yields, per grid, ``(kx, ky,
    cells, inv, counts, vsums)``: the ascending cell keys ``(x >> kx) * n
    + (y >> ky)``, each event's index into them, and each cell's event
    count and exact int64 value sum.

    The sort runs on the finest y-level of each x-level. Sorted by
    (x-cell, y-cell), the cells of a coarser y-level are runs of the
    finer level's cells, so each coarser level comes from the finer one
    in O(cells): shift the y part, mark the runs, remap ``inv``."""
    ymask = n - 1
    by_kx: dict[int, list[int]] = {}
    for kx, ky in grids:
        by_kx.setdefault(kx, []).append(ky)
    for kx, kys in by_kx.items():
        kys = sorted(kys)
        key = (x >> kx) * n + (y >> kys[0])
        order = np.argsort(key)
        sorted_key = key[order]
        run = _run_starts(sorted_key)
        starts = np.flatnonzero(run)
        cells = sorted_key[starts]
        inv = np.empty(len(key), dtype=np.int64)
        inv[order] = np.cumsum(run) - 1
        counts = np.diff(np.append(starts, len(key)))
        vsums = np.add.reduceat(values[order], starts)
        prev = kys[0]
        for ky in kys:
            if ky != prev:
                coarse = (cells & ~ymask) | ((cells & ymask) >> (ky - prev))
                run = _run_starts(coarse)
                starts = np.flatnonzero(run)
                cells = coarse[starts]
                inv = (np.cumsum(run) - 1)[inv]
                counts = np.add.reduceat(counts, starts)
                vsums = np.add.reduceat(vsums, starts)
                prev = ky
            yield kx, ky, cells, inv, counts, vsums


def _run_starts(sorted_keys: np.ndarray) -> np.ndarray:
    run = np.empty(len(sorted_keys), dtype=bool)
    run[:1] = True
    np.not_equal(sorted_keys[1:], sorted_keys[:-1], out=run[1:])
    return run


def _int64_columns(batches, names):
    """Concatenate the named columns of Arrow record batches into int64
    numpy arrays, or None when there are no rows. Nulls raise: they have
    no cell and no count."""
    batches = [b for b in batches if b.num_rows]
    if not batches:
        return None
    out = []
    for name in names:
        col = pa.chunked_array([b.column(name) for b in batches])
        if col.null_count:
            raise ValueError(f"sketch input column {name!r} has "
                             f"{col.null_count} nulls")
        out.append(col.to_numpy().astype(np.int64, copy=False))
    return out


def _sketch_batches(grid_key, cells, offsets, data, n_events, val_sum,
                    max_bytes: int = (1 << 31) - 1):
    """Sketch rows as Arrow record batches of SKETCH_SCHEMA. The payload
    column is built from the ``(offsets, data)`` buffer pair without
    copying per row; its offsets are int32, so rows are cut into batches
    of at most ``max_bytes`` payload bytes."""
    lo, n = 0, len(cells)
    while lo < n:
        hi = min(n, int(np.searchsorted(offsets, offsets[lo] + max_bytes,
                                        side="right")) - 1)
        if hi <= lo:
            raise ValueError(f"payload of {offsets[lo + 1] - offsets[lo]}"
                             f" bytes exceeds {max_bytes}")
        off = (offsets[lo:hi + 1] - offsets[lo]).astype(np.int32)
        payload = pa.BinaryArray.from_buffers(
            pa.binary(), hi - lo,
            [None, pa.py_buffer(off),
             pa.py_buffer(data[offsets[lo]:offsets[hi]])])
        yield pa.RecordBatch.from_arrays(
            [pa.array(grid_key[lo:hi]), pa.array(cells[lo:hi]), payload,
             pa.array(n_events[lo:hi]), pa.array(val_sum[lo:hi])],
            schema=ARROW_SCHEMA)
        lo = hi


def _binary_buffers(arr: pa.Array):
    """(int64 offsets, uint8 data) numpy views of a binary or large
    binary array (Spark sends large ones under
    ``spark.sql.execution.arrow.useLargeVarTypes``)."""
    _, off, data = arr.buffers()
    width = np.int64 if pa.types.is_large_binary(arr.type) else np.int32
    return (np.frombuffer(off, width, len(arr) + 1,
                          arr.offset * np.dtype(width).itemsize)
            .astype(np.int64), np.frombuffer(data, np.uint8))


def _partial_builder(cfg: SketchConfig, kind: str, min_level: int):
    """Returns the mapInArrow function: one partition's events -> one
    Arrow batch of partial sketches per live grid, one row per touched
    cell. Everything it needs travels in the task closure
    (deterministic: kernels regenerate identical hash coefficients from
    cfg.seed on every executor)."""
    grids = live_grids(cfg, min_level)
    n = cfg.n

    def fn(batches):
        cols = _int64_columns(batches, ("x", "y", "item", "value", "ts"))
        if cols is None:
            return
        x, y, items, values, ts = cols
        for name, v in (("x", x), ("y", y)):
            if v.min() < 0 or v.max() >= n:
                raise ValueError(
                    f"event {name} outside [0, {n}): min {v.min()}, "
                    f"max {v.max()}")
        kernel = make_kernel(kind, cfg)
        # item hashes are grid-agnostic: hash once per partition, not
        # once per grid
        prep = kernel.prep_batch(items, values, ts)
        for kx, ky, cells, inv, counts, vsums in pyramid_groups(
                x, y, values, n, grids):
            states = kernel.build_from_groups(cells, inv, items, values,
                                              ts, prep)
            offsets, data = kernel.encode_batch(states)
            gk = np.full(len(cells), cfg.grid_key(kx, ky), np.int32)
            yield from _sketch_batches(gk, cells, offsets, data, counts,
                                       vsums)

    return fn


def _merge_partitions(cfg: SketchConfig, kind: str):
    """Partition-level merge: after a hash repartition on (grid_key,
    cell), every cell's partials are co-located in one partition, so one
    Python/Arrow round merges *all* cells of the partition — avoiding
    per-group overhead on hundreds of thousands of tiny groups (the
    groupBy().applyInPandas() shape would pay ~ms per cell)."""

    def fn(batches):
        # Spark matches output columns by position: pass-through batches
        # must be in SKETCH_SCHEMA order (a parquet-read table puts its
        # grid_key partition column last), and in its types (under
        # useLargeVarTypes the payload arrives as large_binary)
        batches = [b.select(ARROW_SCHEMA.names) for b in batches
                   if b.num_rows]
        batches = [b if b.schema.field("payload").type == pa.binary()
                   else b.cast(ARROW_SCHEMA) for b in batches]
        if not batches:
            return
        gks, cells, nevs, vss = _int64_columns(
            batches, ("grid_key", "cell", "n_events", "val_sum"))
        # group by (grid_key, cell); with zorder locality most groups
        # are a SINGLE partial — those rows pass through in their input
        # batches untouched (the codecs are canonical:
        # serialize(deserialize(b)) == b)
        order = np.lexsort((cells, gks))
        run = _run_starts(gks[order]) | _run_starts(cells[order])
        starts = np.flatnonzero(run)
        sizes = np.diff(np.append(starts, len(order)))
        multi = sizes > 1
        if not multi.any():
            yield from batches
            return
        members = order[np.repeat(multi, sizes)]    # grouped, in order
        first = np.cumsum([0] + [b.num_rows for b in batches])
        dropped = np.zeros(len(order), dtype=bool)
        dropped[members] = True
        for i, b in enumerate(batches):
            keep = ~dropped[first[i]:first[i + 1]]
            yield b if keep.all() else b.filter(pa.array(keep))
        # the multi-partial groups: deserialize, merge, encode once
        kernel = make_kernel(kind, cfg)
        views = [_binary_buffers(b.column("payload")) for b in batches]
        src = np.searchsorted(first, members, side="right") - 1
        states = []
        for j, bi in zip((members - first[src]).tolist(), src.tolist()):
            off, data = views[bi]
            states.append(kernel.deserialize(
                data[off[j]:off[j + 1]].tobytes()))
        k = sizes[multi].tolist()
        bounds = np.cumsum([0] + k).tolist()
        merged = [kernel.merge(states[s:e])
                  for s, e in zip(bounds[:-1], bounds[1:])]
        offsets, data = kernel.encode_batch(merged)
        g_start = order[starts[multi]]
        yield from _sketch_batches(
            gks[g_start].astype(np.int32), cells[g_start], offsets, data,
            np.add.reduceat(nevs[order], starts)[multi],
            np.add.reduceat(vss[order], starts)[multi])

    return fn


def build_sketch_df(events: DataFrame, cfg: SketchConfig, kind: str,
                    min_level: int, num_partitions: int | None = None,
                    mode: str = "zorder") -> DataFrame:
    """events(ts,item,x,y,value) -> sketch DataFrame. Two modes decide
    how events reach the partial build; both feed the same partial
    builder and the same merge stage (equal output — asserted in tests):

    mode='zorder' (locality fast path): range-partition the raw events on
      their Z-order (Morton) value first. A Z-contiguous partition holds
      whole dyadic subtrees, so partials dedup near-perfectly at EVERY
      pyramid level (only cells straddling partition boundaries produce
      >1 partial) — shuffle volume drops from touched-cells x partitions
      to ~total-cells + O(partitions x levels^2). The range shuffle moves
      raw events (small rows) instead of sketch blobs.

    mode='partials' (skew-safe fallback): round-robin the events, build
      per-partition partial sketches, hash shuffle them on (grid_key,
      cell) and merge. The shuffle carries partials (bounded by
      touched-cells x partitions); a pathological hot cell still merges
      only #partitions partials.
    """
    spark = events.sparkSession
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if mode == "zorder":
        # y on the even bits, x on the odd: the range bounds, and so the
        # partials of every kernel, stay those the build has always cut
        events = events.repartitionByRange(
            num_partitions, zorder_col(F.col("y"), F.col("x")))
    elif mode == "partials":
        # ensure the narrow input is actually parallel (a single parquet
        # file otherwise serializes the whole partial build on one core)
        events = events.repartition(num_partitions)
    else:
        raise ValueError(f"unknown build mode {mode!r}")
    partials = events.mapInArrow(_partial_builder(cfg, kind, min_level),
                                 schema=SKETCH_SCHEMA)
    return merge_partials(partials, cfg, kind, num_partitions)


def merge_partials(df: DataFrame, cfg: SketchConfig, kind: str,
                   num_partitions: int | None = None) -> DataFrame:
    """The merge stage: hash-repartition sketch rows on (grid_key, cell)
    so every cell's partials share a partition, then merge them to one
    row per cell. Serves the build, an in-memory ``merge_events`` (table
    + delta) and a snapshot's merge on read (base + deltas)."""
    if num_partitions is None:
        num_partitions = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return df.repartition(num_partitions, "grid_key", "cell") \
        .mapInArrow(_merge_partitions(cfg, kind), schema=SKETCH_SCHEMA)


# a probe-index block: one Arrow record batch message, one row of raw
# numpy buffers, per table partition
INDEX_DTYPES = (("key", np.int64), ("val_sum", np.int64), ("lo", np.int64),
                ("hi", np.int64), ("data", np.uint8))
INDEX_SCHEMA = pa.schema([(c, pa.binary()) for c, _ in INDEX_DTYPES])
INDEX_DIR = "ssk-index"


def _pack_block(n: int, index_id: str):
    """The mapInArrow function that packs one partition of a sketch
    table into one probe-index block, a single row of raw buffers:
    int64 ``key = grid_key·n² + cell`` ascending, each key's int64
    ``val_sum``, and its payload as ``data[lo:hi]``. The payload bytes
    keep their scan order (``lo``/``hi`` follow the keys), so packing
    never reorders them. The task writes the block to
    ``<SparkFiles root>/ssk-index/<index_id>-<partition>.arrow`` on the
    executor running it and yields one row: that path. Spark deletes
    the root directory when the session stops."""

    def fn(batches):
        batches = [b for b in batches if b.num_rows]
        if not batches:
            return
        gks, cells, vss = _int64_columns(
            batches, ("grid_key", "cell", "val_sum"))
        starts, ends, chunks, base = [], [], [], 0
        for b in batches:
            off, data = _binary_buffers(b.column("payload"))
            starts.append(off[:-1] - off[0] + base)
            ends.append(off[1:] - off[0] + base)
            chunks.append(data[off[0]:off[-1]])
            base += int(off[-1] - off[0])
        key = gks * (n * n) + cells
        order = np.argsort(key, kind="stable")
        cols = (key[order], vss[order], np.concatenate(starts)[order],
                np.concatenate(ends)[order], np.concatenate(chunks))
        block = pa.RecordBatch.from_arrays(
            [pa.array([c.tobytes()], pa.binary()) for c in cols],
            schema=INDEX_SCHEMA)
        d = os.path.join(SparkFiles.getRootDirectory(), INDEX_DIR)
        os.makedirs(d, exist_ok=True)
        path = os.path.join(
            d, f"{index_id}-{TaskContext.get().partitionId()}.arrow")
        # a retried task never leaves a reader a partly written file
        tmp = f"{path}.{uuid.uuid4().hex}.tmp"
        with open(tmp, "wb") as f:
            f.write(block.serialize())
        os.replace(tmp, path)
        yield pa.RecordBatch.from_arrays([pa.array([path])], ["path"])

    return fn


def _index_keys_fit(cfg: SketchConfig) -> bool:
    """Whether every probe-index key ``grid_key·n² + cell`` fits an
    int64: grid_key < levels² and cell < n², so n up to 2^26."""
    return cfg.levels ** 2 * cfg.n ** 2 <= 2 ** 63


def _load_block(path: str):
    """A block file written by ``_pack_block`` -> its ``(key, val_sum,
    lo, hi, data)`` numpy views over the memory-mapped file (no copy;
    the mapping lives as long as the views). When this executor lacks
    the file it returns the marker: ``path`` itself, a str."""
    try:
        with pa.memory_map(path) as f:
            buf = f.read_buffer()
    except FileNotFoundError:
        return path
    b = pa.ipc.read_record_batch(buf, INDEX_SCHEMA)
    return tuple(np.frombuffer(b.column(c)[0].as_buffer(), dt)
                 for c, dt in INDEX_DTYPES)


def _publish_json(dest: str, obj: dict, exclusive: bool = False) -> None:
    """Write ``obj`` as JSON to a temp file beside ``dest``, then move it
    into place: ``os.link`` when ``exclusive`` (FileExistsError if
    ``dest`` exists), ``os.replace`` otherwise. Readers never see a
    partly written file, and a failed write leaves no temp file."""
    head, name = os.path.split(dest)
    tmp = f"{head}/.{name}.{uuid.uuid4().hex}.tmp"
    try:
        with open(tmp, "w") as f:
            json.dump(obj, f, indent=1, sort_keys=True)
        if exclusive:
            os.link(tmp, dest)
        else:
            os.replace(tmp, dest)
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)


class SketchStore:
    """A built sketch table + its manifest (config, lineage, metrics).

    Persisted layout (the Iceberg-snapshot stand-in — parquet +
    manifest JSON; on a real cluster this is an Iceberg table and the
    manifest rides in snapshot summary properties):

        <path>/sketch/                 base from build(), parquet
                                       partitioned by grid_key
        <path>/delta_<uuid>/           one flat parquet dir per append
        <path>/sketch_s<seq>_<uuid>/   a base written by compact()
        <path>/manifest_s<seq>.json    one immutable manifest per commit:
                                       cfg/kind/min_level, base
                                       ``data_dir``, ``deltas``, lineage,
                                       metrics
        <path>/manifest.json           the current-snapshot pointer

    A snapshot is its base plus the deltas appended since; readers merge
    them on read. Every data dir is written once and never rewritten.

    ``build_or_load`` makes every stage resumable: if a manifest matching
    (cfg, kind, min_level, input fingerprint) exists, the build is
    skipped and the snapshot is served (north_rule checkpoint
    requirement; kill-and-resume covered in tests/test_geo_pipeline.py).
    """

    def __init__(self, spark: SparkSession, df: DataFrame,
                 cfg: SketchConfig, kind: str, min_level: int,
                 manifest: dict | None = None, path: str | None = None):
        self.spark = spark
        self.df = df
        self.cfg = cfg
        self.kind = kind
        self.min_level = min_level
        self.manifest = manifest or {}
        self.path = path
        self._bucketed = None
        self._index = self._index_paths = None
        self._batches = 0

    def bucketed_df(self) -> DataFrame:
        """The sketch table hash-partitioned by its join key (grid_key,
        cell) and cached that way — the local-mode analogue of writing
        the sketch as a BUCKETED table on a cluster. Query-batch joins
        then reuse this output partitioning: the payload column (the
        wide side) never re-shuffles per batch; only the tiny cover
        relation moves. One payload shuffle per store lifetime,
        amortized over every subsequent query batch."""
        if self._bucketed is None:
            p = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
            self._bucketed = self.df.repartition(
                p, "grid_key", "cell").cache()
        return self._bucketed

    def serving_index(self, budget_bytes: int):
        """Count one served batch of additive kinds and pick its path:
        -> the probe index to answer it from, or None for the SQL join.
        A store's first such batch, and every batch of a store whose
        payload bytes exceed ``budget_bytes`` (or are not in its
        manifest), takes the join, so a store queried once never packs
        an index. So does every batch of a store whose probe keys would
        overflow int64 (``_index_keys_fit``).

        The index is this store's table packed into one block per table
        partition by ONE step (``_pack_block``, a ``mapInArrow``) that
        the first job reading the index runs: each task writes its
        block, one Arrow record batch message, to a file on the
        executor running it and yields only the file's path, so Spark
        caches the RDD of paths (``.rdd`` of the pack's tiny output),
        never the block bytes. Each element of the returned RDD reads
        as ``(key, val_sum, lo, hi, data)`` numpy views over its
        memory-mapped file (``_load_block``), so a batch moves no block
        bytes from the JVM to Python. A task whose executor lacks its
        block file gets the path back as a marker; the engine then drops
        the index and answers the batch on the SQL join, and the next
        batch packs a new one. Untested: whether the cached paths keep
        executor locality on a multi-executor cluster (only ``local``
        masters were run). Every snapshot is its own store object, so
        ``merge_events``, ``rollback``, ``compact`` and ``load`` each
        start without an index and never see another snapshot's."""
        self._batches += 1
        nbytes = self.manifest.get("metrics", {}).get("payload_bytes")
        if (self._batches == 1 or nbytes is None or nbytes > budget_bytes
                or not _index_keys_fit(self.cfg)):
            return None
        if self._index is None:
            packed = self.df.select("grid_key", "cell", "val_sum",
                                    "payload") \
                .mapInArrow(_pack_block(self.cfg.n, uuid.uuid4().hex),
                            schema="path STRING")
            self._index_paths = packed.rdd.map(lambda r: r.path).cache()
            self._index = self._index_paths.map(_load_block)
        return self._index

    def drop_index(self) -> None:
        """Forget the probe index (its block files stay until the
        session stops); the next additive batch packs a new one."""
        if self._index is not None:
            self._index_paths.unpersist()
        self._index = self._index_paths = None

    # -- construction ------------------------------------------------
    @classmethod
    def build(cls, spark: SparkSession, events: DataFrame,
              cfg: SketchConfig, kind: str, min_level: int = 0,
              path: str | None = None, mode: str = "zorder",
              num_partitions: int | None = None,
              batch_id: int | None = None) -> "SketchStore":
        """Build the sketch table of ``events``. With a ``path``, write it
        as the base of snapshot 0, replacing any history the path held;
        ``batch_id`` is recorded as the last applied replay token (see
        ``merge_events``)."""
        t0 = time.time()
        df = build_sketch_df(events, cfg, kind, min_level,
                             num_partitions=num_partitions, mode=mode)
        if path:
            os.makedirs(path, exist_ok=True)
            df.write.mode("overwrite").partitionBy("grid_key") \
              .parquet(f"{path}/sketch")
            df = spark.read.parquet(f"{path}/sketch")
        else:
            df = df.cache()
        stats = cls._table_stats(df)    # materializes the cache
        build_core_wall = time.time() - t0
        # per-partition input lineage (north_rule: per-partition lineage
        # + sketch-merge metrics in the checkpoint manifest) and the
        # input fingerprint — one bookkeeping job, outside the timed
        # core build
        lineage, fingerprint = cls._input_stats(events)
        manifest = {
            "kind": kind,
            "min_level": min_level,
            "input_fingerprint": fingerprint,
            "cfg": {"n": cfg.n, "eps": cfg.eps, "delta": cfg.delta,
                    "seed": cfg.seed, "exact": cfg.exact,
                    "item_domain": cfg.item_domain,
                    "dropped_grids": sorted(cfg.dropped_grids)},
            "lineage": lineage,
            "metrics": {
                "input_events": fingerprint["n_events"],
                **stats,
                "build_wall_s": round(time.time() - t0, 3),
                "build_core_wall_s": round(build_core_wall, 3),
                "build_mode": mode,
            },
        }
        if batch_id is not None:
            manifest["last_batch_id"] = int(batch_id)
        if path:
            manifest.update(snapshot_seq=0, data_dir="sketch", deltas=[])
            cls._drop(path, cls.snapshots(path), keep={"sketch"})
            cls._commit_manifest(path, manifest)
        return cls(spark, df, cfg, kind, min_level, manifest, path)

    @staticmethod
    def _commit_manifest(path: str, manifest: dict,
                         parent_seq: int | None = None) -> None:
        """The one snapshot commit. With a ``parent_seq`` (every commit
        but a build's), in this order:

        1. Re-read the pointer ``manifest.json`` and refuse unless it
           still names ``parent_seq``. ``expire_snapshots`` deletes old
           ``manifest_s*`` files, so a writer opened at an expired seq
           could otherwise recreate one.
        2. Create ``manifest_s<seq>.json`` exclusively: of two writers
           racing from the same current parent, the second finds the
           name taken and raises, overwriting nothing.
        3. ``os.replace`` the pointer. If that fails, this commit's
           ``manifest_s<seq>.json`` is removed again, so the previous
           snapshot stays current and the seq stays free.

        A build (no parent) starts a history and replaces both files."""
        seq = int(manifest["snapshot_seq"])
        own = f"{path}/manifest_s{seq}.json"
        if parent_seq is not None:
            try:
                with open(f"{path}/manifest.json") as f:
                    disk = json.load(f).get("snapshot_seq", 0)
            except OSError:
                disk = None
            if disk != parent_seq:
                raise ValueError(
                    f"concurrent snapshot commit detected at {path}: "
                    f"on-disk seq {disk} != this store's seq {parent_seq}"
                    " — reload the store and re-apply the change")
        try:
            _publish_json(own, manifest, exclusive=parent_seq is not None)
        except FileExistsError as e:
            raise ValueError(
                f"concurrent snapshot commit detected at {path}: seq "
                f"{seq} was committed by another writer — reload the "
                "store and re-apply the change") from e
        try:
            _publish_json(f"{path}/manifest.json", manifest)
        except BaseException:
            if parent_seq is not None:
                os.remove(own)
            raise

    def _commit(self, manifest: dict, new_dir: str | None) -> "SketchStore":
        """Commit ``manifest`` as the child of this store's snapshot and
        open it. If the commit fails, the data dir it would have added is
        removed: no manifest lists it."""
        try:
            self._commit_manifest(self.path, manifest,
                                  int(self.manifest.get("snapshot_seq", 0)))
        except BaseException:
            if new_dir:
                shutil.rmtree(f"{self.path}/{new_dir}", ignore_errors=True)
            raise
        return self._open(self.spark, self.path, manifest, self.cfg,
                          self.kind)

    @classmethod
    def _open(cls, spark: SparkSession, path: str, manifest: dict,
              cfg: SketchConfig, kind: str) -> "SketchStore":
        """The store a committed manifest describes. A base without
        deltas is read as written. Otherwise the base and each delta dir
        are read separately and unioned (the base is partitioned by
        grid_key, the deltas are flat, and Spark rejects a mixed-layout
        multi-root read), then merged to one row per (grid_key, cell)
        once and cached, so the queries of this store share one merge."""
        base = f"{path}/{manifest.get('data_dir', 'sketch')}"
        deltas = manifest.get("deltas", [])
        if not deltas:
            df = spark.read.parquet(base)
        else:
            roots = [base] + [f"{path}/{d}" for d in deltas]
            df = functools.reduce(DataFrame.unionByName, (
                spark.read.schema(SKETCH_SCHEMA).parquet(r)
                .select(*ARROW_SCHEMA.names) for r in roots))
            df = merge_partials(df, cfg, kind).cache()
        return cls(spark, df, cfg, kind, manifest["min_level"], manifest,
                   path)

    @classmethod
    def snapshots(cls, path: str) -> list[dict]:
        """Committed-snapshot history, oldest first — the time-travel
        catalog (Iceberg ``table.snapshots()``). Each entry is the full
        manifest committed at that seq; data dirs of old snapshots stay
        readable, so any entry can be opened with ``load(at_seq=...)``."""
        import re
        try:
            names = os.listdir(path)
        except OSError:
            return []
        seqs = sorted(int(m.group(1)) for nm in names
                      if (m := re.fullmatch(r"manifest_s(\d+)\.json", nm)))
        out = []
        for s in seqs:
            with open(f"{path}/manifest_s{s}.json") as f:
                out.append(json.load(f))
        return out

    @classmethod
    def load(cls, spark: SparkSession, path: str,
             cfg: SketchConfig, kind: str,
             at_seq: int | None = None) -> "SketchStore":
        """Open the current snapshot, or — time travel — the snapshot
        committed at ``at_seq`` (Iceberg snapshot-id read). A
        time-travelled store is a fully-usable read view; committing
        from it is rejected by merge_events' optimistic-concurrency
        check unless it IS the current snapshot."""
        if at_seq is None:
            with open(f"{path}/manifest.json") as f:
                manifest = json.load(f)
        else:
            try:
                with open(f"{path}/manifest_s{int(at_seq)}.json") as f:
                    manifest = json.load(f)
            except OSError as e:
                have = [m.get("snapshot_seq", 0)
                        for m in cls.snapshots(path)]
                raise ValueError(
                    f"no snapshot seq {at_seq} at {path}; committed "
                    f"seqs: {have}") from e
        return cls._open(spark, path, manifest, cfg, kind)

    @staticmethod
    def _table_stats(df: DataFrame) -> dict:
        """Sketch-table size metrics for the manifest, in one job."""
        r = df.agg(F.count("*").alias("cells"),
                   F.sum("n_events").alias("merged_events"),
                   F.sum(F.length("payload")).alias("payload_bytes")
                   ).collect()[0]
        return {"sketch_cells": int(r["cells"]),
                "merged_events": int(r["merged_events"] or 0),
                "payload_bytes": int(r["payload_bytes"] or 0)}

    @staticmethod
    def _input_stats(events: DataFrame) -> tuple[list[dict], dict]:
        """(per-partition lineage, input fingerprint) from one
        aggregation job over ``events``: each input partition's row
        count, ts range and hash sum, combined on the driver."""
        rows = events.groupBy(F.spark_partition_id().alias("pid")).agg(
            F.count("*").alias("n"), F.min("ts").alias("tmin"),
            F.max("ts").alias("tmax"),
            F.sum(F.xxhash64("ts", "item", "x", "y", "value")
                  .cast("decimal(38,0)")).alias("sh")).collect()
        lineage = sorted(({"partition": int(r["pid"]), "events": int(r["n"])}
                          for r in rows), key=lambda r: r["partition"])
        tmin = [int(r["tmin"]) for r in rows if r["tmin"] is not None]
        tmax = [int(r["tmax"]) for r in rows if r["tmax"] is not None]
        sh = [int(r["sh"]) for r in rows if r["sh"] is not None]
        return lineage, {
            "n_events": sum(r["events"] for r in lineage),
            "min_ts": min(tmin) if tmin else None,
            "max_ts": max(tmax) if tmax else None,
            "sum_hash": sum(sh) % (1 << 64) if sh else None}

    @classmethod
    def fingerprint_events(cls, events: DataFrame) -> dict:
        """Partitioning-invariant input identity: row count, ts range,
        and an order-invariant SUM of per-row xxhash64 (summed exactly,
        then reduced mod 2^64). Sum, not XOR: XOR of per-row hashes
        cancels pairwise, so two inputs differing only in which rows are
        duplicated would collide — sum is multiplicity-sensitive.
        Recorded in the manifest and compared on resume so a stale
        snapshot built from *different data* is never silently
        served."""
        return cls._input_stats(events)[1]

    @staticmethod
    def _combine_fingerprints(fa: dict, fb: dict) -> dict:
        """Fingerprint of A ∪ B from the fingerprints of A and B — every
        component is a commutative monoid (count sum, ts min/max, hash
        sum mod 2^64), so an incremental snapshot can record the union
        identity without rescanning the base input."""
        def _mm(f, a, b):
            vals = [v for v in (a, b) if v is not None]
            return f(vals) if vals else None
        for f in (fa, fb):
            if "sum_hash" not in f:
                # pre-sum_hash manifests carried xor_hash, which is not
                # union-combinable (XOR cancels duplicate rows) — fail
                # with the remedy instead of a bare KeyError (ADVICE r3)
                raise ValueError(
                    "manifest predates sum_hash fingerprints (found "
                    f"keys {sorted(f)}); incremental merge needs a "
                    "multiplicity-sensitive fingerprint — rebuild the "
                    "snapshot (SketchStore.build) before merge_events")
        return {
            "n_events": fa["n_events"] + fb["n_events"],
            "min_ts": _mm(min, fa["min_ts"], fb["min_ts"]),
            "max_ts": _mm(max, fa["max_ts"], fb["max_ts"]),
            "sum_hash": ((fa["sum_hash"] or 0) + (fb["sum_hash"] or 0))
            % (1 << 64)
            if fa["sum_hash"] is not None or fb["sum_hash"] is not None
            else None,
        }

    def merge_events(self, new_events: DataFrame,
                     batch_id: int | None = None) -> "SketchStore":
        """Incremental batch update — the table-level mirror of the
        reference's continuous ``Update()`` (SpatialSketch.cpp:535-599):
        build the sketch DELTA from ``new_events`` only.

        On a path-backed store the delta is written to its own
        ``delta_<uuid>`` dir and committed as a new snapshot whose
        manifest keeps this snapshot's base and adds the dir to its
        ``deltas``. No stored row is rewritten; the returned store, like
        any ``load``, merges base and deltas on read, and ``compact()``
        folds them into a new base. An in-memory store merges the delta
        into a new cached table.

        ``batch_id`` is a replay token (Delta Lake's ``txnVersion``): the
        manifest records the last one applied, and an id at or below it
        returns this store unchanged, so a replayed micro-batch is
        applied once.

        Where the kernel's merge is a commutative monoid (exact, CM, FM,
        BF, DCM), ``build(A).merge_events(B)`` equals ``build(A ∪ B)``
        bit-for-bit in either layout (test_merge_events_equals_full_build);
        the ECM and Elastic merges are deterministic but lossy, so there
        the result stays inside the kernel's estimate envelope instead
        (test_merge_events_lossy_kinds). The union input fingerprint is
        combined arithmetically, so a later ``build_or_load`` over
        A ∪ B serves the merged snapshot without a rebuild."""
        if "input_fingerprint" not in self.manifest:
            raise ValueError(
                "merge_events needs a store whose manifest carries an "
                "input fingerprint to combine (SketchStore.build/"
                "build_or_load/load)")
        last = self.manifest.get("last_batch_id")
        if batch_id is not None and last is not None and batch_id <= last:
            return self
        t0 = time.time()
        delta = build_sketch_df(new_events, self.cfg, self.kind,
                                self.min_level)
        if self.path:
            new_dir = f"delta_{uuid.uuid4().hex}"
            delta.write.parquet(f"{self.path}/{new_dir}")
            stats = self._table_stats(
                self.spark.read.parquet(f"{self.path}/{new_dir}"))
        else:
            merged = merge_partials(self.df.unionByName(delta), self.cfg,
                                    self.kind).cache()
            stats = self._table_stats(merged)   # materializes the cache
        delta_lineage, delta_fp = self._input_stats(new_events)
        seq = int(self.manifest.get("snapshot_seq", 0)) + 1
        for r in delta_lineage:
            r["snapshot_seq"] = seq
        manifest = dict(self.manifest)
        manifest["input_fingerprint"] = self._combine_fingerprints(
            self.manifest["input_fingerprint"], delta_fp)
        manifest["snapshot_seq"] = seq
        manifest["lineage"] = self.manifest.get("lineage", []) + delta_lineage
        if batch_id is not None:
            manifest["last_batch_id"] = int(batch_id)
        metrics = manifest["metrics"] = dict(self.manifest.get("metrics", {}))
        metrics.update({
            "input_events": metrics.get("input_events", 0)
            + delta_fp["n_events"],
            f"merge_s{seq}_wall_s": round(time.time() - t0, 3),
            f"merge_s{seq}_delta_events": delta_fp["n_events"],
        })
        if not self.path:
            metrics.update(stats)
            return SketchStore(self.spark, merged, self.cfg, self.kind,
                               self.min_level, manifest)
        # n_events adds up across the base and its deltas; payload
        # bytes too, an upper bound on the merged view's (a manifest
        # without them stays without); sketch_cells stays the base's
        # until compact()
        metrics["merged_events"] = (metrics.get("merged_events", 0)
                                    + stats["merged_events"])
        if "payload_bytes" in metrics:
            metrics["payload_bytes"] += stats["payload_bytes"]
        manifest["deltas"] = self.manifest.get("deltas", []) + [new_dir]
        return self._commit(manifest, new_dir)

    def compact(self) -> "SketchStore":
        """Fold the base and its deltas into one new base dir
        (``sketch_s<seq>_<uuid>``, partitioned by grid_key) and commit it
        as a snapshot with no deltas: the one full rewrite (the Iceberg
        rewrite-data-files analogue). Answers do not change, since
        readers already merge the deltas on read; a compacted store just
        stops paying that merge. A store without deltas is returned as
        it is."""
        if not self.path:
            raise ValueError("compact needs a path-backed store")
        if not self.manifest.get("deltas"):
            return self
        t0 = time.time()
        seq = int(self.manifest.get("snapshot_seq", 0)) + 1
        new_dir = f"sketch_s{seq}_{uuid.uuid4().hex}"
        self.df.write.partitionBy("grid_key").parquet(
            f"{self.path}/{new_dir}")
        manifest = dict(self.manifest, snapshot_seq=seq, data_dir=new_dir,
                        deltas=[])
        manifest["metrics"] = {
            **self.manifest.get("metrics", {}),
            **self._table_stats(
                self.spark.read.parquet(f"{self.path}/{new_dir}")),
            f"compact_s{seq}_wall_s": round(time.time() - t0, 3)}
        return self._commit(manifest, new_dir)

    def rollback(self, to_seq: int) -> "SketchStore":
        """Iceberg rollback: make snapshot ``to_seq`` current again by
        committing a NEW snapshot (next seq) that lists the old
        snapshot's base and deltas and restores its input
        fingerprint/lineage. History is preserved — the rolled-back-over
        commits stay readable via time travel until expired — and later
        merge_events calls layer on top of the restored state. Only
        valid on the current snapshot (the commit's pointer check)."""
        if not self.path:
            raise ValueError("rollback needs a path-backed store")
        try:
            with open(f"{self.path}/manifest_s{int(to_seq)}.json") as f:
                target = json.load(f)
        except OSError as e:
            have = [m.get("snapshot_seq", 0)
                    for m in self.snapshots(self.path)]
            raise ValueError(f"no snapshot seq {to_seq} at {self.path};"
                             f" committed seqs: {have}") from e
        seq = int(self.manifest.get("snapshot_seq", 0)) + 1
        return self._commit(dict(
            target, snapshot_seq=seq,
            rolled_back_from=int(self.manifest.get("snapshot_seq", 0)),
            rolled_back_to=int(to_seq)), None)

    def expire_snapshots(self, keep_last: int = 1) -> list[int]:
        """Iceberg expire-snapshots maintenance: drop committed
        snapshots older than the newest ``keep_last``, deleting their
        immutable manifest files and every base or delta dir no
        retained snapshot still lists. The current snapshot is always
        retained (keep_last >= 1 enforced). Time-travel reads to an
        expired seq fail with the committed-seqs error afterwards — the
        same contract as Iceberg's expire_snapshots. Returns expired
        seqs."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1 (the current "
                             "snapshot cannot be expired)")
        if not self.path:
            return []
        hist = self.snapshots(self.path)
        expired, retained = hist[:-keep_last], hist[-keep_last:]
        self._drop(self.path, expired,
                   keep=set().union(*map(self._data_dirs, retained)))
        return [int(m.get("snapshot_seq", 0)) for m in expired]

    @staticmethod
    def _data_dirs(manifest: dict) -> set[str]:
        return {manifest.get("data_dir", "sketch"),
                *manifest.get("deltas", [])}

    @classmethod
    def _drop(cls, path: str, manifests: list[dict], keep: set[str]) -> None:
        """Delete the files of ``manifests`` and every data dir they list
        that is not in ``keep``."""
        for m in manifests:
            for d in cls._data_dirs(m) - keep:
                shutil.rmtree(f"{path}/{d}", ignore_errors=True)
            try:
                os.remove(f"{path}/manifest_s{int(m.get('snapshot_seq', 0))}"
                          ".json")
            except OSError:
                pass

    @classmethod
    def build_or_load(cls, spark: SparkSession, events: DataFrame,
                      cfg: SketchConfig, kind: str, min_level: int,
                      path: str) -> "SketchStore":
        try:
            st = cls.load(spark, path, cfg, kind)
            m = st.manifest
            mc = m.get("cfg", {})
            # pin EVERY parameter that changes payload layout or hash
            # coefficients — a snapshot built at different eps/delta has
            # differently-shaped CM counters, and the raw-buffer codec
            # would reshape them silently instead of failing loudly
            if (m.get("kind") == kind and m.get("min_level") == min_level
                    and mc.get("n") == cfg.n
                    and mc.get("exact") == cfg.exact
                    and mc.get("seed") == cfg.seed
                    and mc.get("eps") == cfg.eps
                    and mc.get("delta") == cfg.delta
                    and mc.get("item_domain") == cfg.item_domain
                    and sorted(map(tuple, mc.get("dropped_grids", [])))
                    == sorted(cfg.dropped_grids)
                    and m.get("input_fingerprint")
                    == cls.fingerprint_events(events)):
                return st
        except (OSError, ValueError, KeyError):
            pass
        return cls.build(spark, events, cfg, kind, min_level, path)
