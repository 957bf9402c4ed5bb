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

import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..config import SketchConfig
from ..core.kernels import make_kernel

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


def _binary_buffers(arr: pa.BinaryArray):
    """(int64 offsets, uint8 data) numpy views of a binary array."""
    _, off, data = arr.buffers()
    return (np.frombuffer(off, np.int32, len(arr) + 1, arr.offset * 4)
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
            if kernel.build_from_groups is not None:
                states = kernel.build_from_groups(cells, inv, items,
                                                  values, ts, prep)
            else:
                _, states = kernel.build_grouped(cells[inv], items,
                                                 values, ts)
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
        # grid_key partition column last)
        batches = [b.select(ARROW_SCHEMA.names) for b in batches
                   if b.num_rows]
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
    """events(ts,item,x,y,value) -> sketch DataFrame. Two shuffle
    strategies (equal output — asserted in tests):

    mode='partials' (skew-safe fallback): per-partition partial sketches
      -> hash shuffle on (grid_key, cell) -> partition-level merge. The
      shuffle carries partials (bounded by touched-cells x partitions);
      a pathological hot cell still merges only #partitions partials.

    mode='zorder' (locality fast path): range-partition the raw events on
      their Z-order (Morton) value first. A Z-contiguous partition holds
      whole dyadic subtrees, so partials dedup near-perfectly at EVERY
      pyramid level (only cells straddling partition boundaries produce
      >1 partial) — shuffle volume drops from touched-cells x partitions
      to ~total-cells + O(partitions x levels^2). Same merge stage, same
      output (hash-partitioning a grid cell's events across partitions
      is still handled); the range shuffle moves raw events (small rows)
      instead of sketch blobs.
    """
    spark = events.sparkSession
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if mode in ("zorder", "zhash"):
        z = F.lit(0).cast("bigint")
        for b in range(cfg.levels - 1):
            z = (z
                 + (F.shiftright("x", b).bitwiseAND(F.lit(1))
                    * F.lit(1 << (2 * b + 1)))
                 + (F.shiftright("y", b).bitwiseAND(F.lit(1))
                    * F.lit(1 << (2 * b))))
        if mode == "zorder":
            events = events.repartitionByRange(num_partitions, z)
        else:
            # zhash: hash-partition on coarse Z-blocks — same locality for
            # all levels below the block level, but no range-sampling job
            # and fully deterministic partitioning. Block level chosen so
            # there are ~8 blocks per partition.
            import math
            block_level = max(min_level, (cfg.levels - 1)
                              - max(1, math.ceil(
                                  math.log(max(num_partitions * 8, 2), 4))))
            events = events.repartition(num_partitions,
                                        F.shiftright(z, 2 * block_level))
    elif mode == "partials":
        # ensure the narrow input is actually parallel (a single parquet
        # file otherwise serializes the whole partial build on one core)
        events = events.repartition(num_partitions)
    else:
        raise ValueError(f"unknown build mode {mode!r}")
    partials = events.mapInArrow(_partial_builder(cfg, kind, min_level),
                                 schema=SKETCH_SCHEMA)
    return partials.repartition(num_partitions, "grid_key", "cell") \
        .mapInArrow(_merge_partitions(cfg, kind), schema=SKETCH_SCHEMA)


class SketchStore:
    """A built sketch table + its manifest (config, lineage, metrics).

    Persisted layout (the Iceberg-snapshot stand-in — parquet +
    manifest JSON; on a real cluster this is an Iceberg table and the
    manifest rides in snapshot summary properties):

        <path>/sketch/            parquet, partitioned by grid_key
        <path>/manifest.json      cfg/kind/min_level + per-partition
                                  lineage + merge metrics

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

    # -- construction ------------------------------------------------
    @classmethod
    def build(cls, spark: SparkSession, events: DataFrame,
              cfg: SketchConfig, kind: str, min_level: int = 0,
              path: str | None = None, mode: str = "zorder",
              num_partitions: int | None = None) -> "SketchStore":
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
        if path:
            manifest["snapshot_seq"] = 0
            manifest["data_dir"] = "sketch"
            cls._commit_manifest(path, manifest)
        return cls(spark, df, cfg, kind, min_level, manifest, path)

    @staticmethod
    def _commit_manifest(path: str, manifest: dict) -> None:
        """Commit = write the immutable per-snapshot metadata file
        (``manifest_s<seq>.json`` — the Iceberg metadata-log analogue,
        one file per committed snapshot, never rewritten) then repoint
        the current-pointer file ``manifest.json`` (the
        version-hint/catalog analogue)."""
        seq = int(manifest.get("snapshot_seq", 0))
        with open(f"{path}/manifest_s{seq}.json", "w") as f:
            json.dump(manifest, f, indent=1, sort_keys=True)
        with open(f"{path}/manifest.json", "w") as f:
            json.dump(manifest, f, indent=1, sort_keys=True)

    @classmethod
    def snapshots(cls, path: str) -> list[dict]:
        """Committed-snapshot history, oldest first — the time-travel
        catalog (Iceberg ``table.snapshots()``). Each entry is the full
        manifest committed at that seq; data dirs of old snapshots stay
        readable, so any entry can be opened with ``load(at_seq=...)``.
        Falls back to the single current manifest for stores written
        before per-snapshot metadata existed."""
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
        if not out and "manifest.json" in names:    # legacy layout
            with open(f"{path}/manifest.json") as f:
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
        # data_dir defaults to 'sketch' (initial build); merge_events
        # snapshots write sketch_s<seq> and repoint the manifest —
        # Iceberg-snapshot semantics: old data dirs stay readable
        df = spark.read.parquet(
            f"{path}/{manifest.get('data_dir', 'sketch')}")
        return cls(spark, df, cfg, kind, manifest["min_level"], manifest,
                   path)

    @staticmethod
    def _table_stats(df: DataFrame) -> dict:
        """Sketch-table size metrics for the manifest, in one job."""
        r = df.agg(F.count("*").alias("cells"),
                   F.sum("n_events").alias("merged_events")).collect()[0]
        return {"sketch_cells": int(r["cells"]),
                "merged_events": int(r["merged_events"] or 0)}

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
                     mode: str = "zorder") -> "SketchStore":
        """Incremental batch update — the table-level mirror of the
        reference's continuous ``Update()`` (SpatialSketch.cpp:535-599)
        and the MERGE INTO-style posture the Iceberg north rule names:
        build the sketch DELTA from ``new_events`` only, monoid-merge it
        into this snapshot's table, and write a NEW snapshot (data dir
        ``sketch_s<seq>``, manifest repointed, parent recorded — old
        snapshot dirs stay readable). Because every kernel's merge is a
        commutative monoid, ``build(A).merge_events(B)`` equals
        ``build(A ∪ B)`` bit-for-bit per kernel kind (asserted in
        tests/test_geo_pipeline.py); the union input fingerprint is
        combined arithmetically, so a later ``build_or_load`` over
        A ∪ B serves the merged snapshot without a rebuild."""
        if "input_fingerprint" not in self.manifest:
            raise ValueError(
                "merge_events needs a store whose manifest carries an "
                "input fingerprint to combine (SketchStore.build/"
                "build_or_load/load, a streaming as_store() view, or a "
                "compact()ed streaming snapshot)")
        t0 = time.time()
        spark = self.spark
        p = int(spark.conf.get("spark.sql.shuffle.partitions"))
        delta = build_sketch_df(new_events, self.cfg, self.kind,
                                self.min_level, mode=mode)
        merged = (self.df.unionByName(delta)
                  .repartition(p, "grid_key", "cell")
                  .mapInArrow(_merge_partitions(self.cfg, self.kind),
                              schema=SKETCH_SCHEMA))
        seq = int(self.manifest.get("snapshot_seq", 0)) + 1
        if self.path:
            # optimistic concurrency (Iceberg commit semantics): the
            # on-disk manifest must still be the snapshot this store
            # was opened at — a second merge_events from the same stale
            # base would otherwise recompute the same seq and OVERWRITE
            # the first merge's data dir while its store still reads it
            try:
                with open(f"{self.path}/manifest.json") as f:
                    disk = json.load(f)
            except OSError:
                disk = {}
            if (disk.get("snapshot_seq", 0)
                    != self.manifest.get("snapshot_seq", 0)):
                raise ValueError(
                    f"concurrent snapshot commit detected at {self.path}:"
                    f" on-disk seq {disk.get('snapshot_seq', 0)} != this "
                    f"store's seq {self.manifest.get('snapshot_seq', 0)} "
                    "— reload the store and re-apply the delta")
            data_dir = f"sketch_s{seq}"
            merged.write.mode("overwrite").partitionBy("grid_key") \
                  .parquet(f"{self.path}/{data_dir}")
            merged = spark.read.parquet(f"{self.path}/{data_dir}")
        else:
            data_dir = None
            merged = merged.cache()
        stats = self._table_stats(merged)   # materializes the cache
        delta_lineage, delta_fp = self._input_stats(new_events)
        for r in delta_lineage:
            r["snapshot_seq"] = seq
        manifest = dict(self.manifest)
        manifest["input_fingerprint"] = self._combine_fingerprints(
            self.manifest["input_fingerprint"], delta_fp)
        manifest["snapshot_seq"] = seq
        manifest["parent_data_dir"] = self.manifest.get(
            "data_dir", "sketch" if self.path else None)
        manifest["lineage"] = self.manifest.get("lineage", []) + delta_lineage
        manifest["metrics"] = dict(self.manifest.get("metrics", {}))
        manifest["metrics"].update({
            **stats,
            "input_events": (self.manifest.get("metrics", {})
                             .get("input_events", 0)
                             + delta_fp["n_events"]),
            f"merge_s{seq}_wall_s": round(time.time() - t0, 3),
            f"merge_s{seq}_delta_events": delta_fp["n_events"],
        })
        if self.path:
            manifest["data_dir"] = data_dir
            self._commit_manifest(self.path, manifest)
        return SketchStore(spark, merged, self.cfg, self.kind,
                           self.min_level, manifest, self.path)

    def rollback(self, to_seq: int) -> "SketchStore":
        """Iceberg rollback: make snapshot ``to_seq`` current again by
        committing a NEW snapshot (next seq) that points at the old
        snapshot's data dir and restores its input fingerprint/lineage.
        History is preserved — the rolled-back-over commits stay
        readable via time travel until expired — and later
        merge_events calls layer on top of the restored state. Only
        valid on the current snapshot (optimistic concurrency, same as
        merge_events)."""
        if not self.path:
            raise ValueError("rollback needs a path-backed store")
        try:
            with open(f"{self.path}/manifest.json") as f:
                disk = json.load(f)
        except OSError:
            disk = {}
        if (disk.get("snapshot_seq", 0)
                != self.manifest.get("snapshot_seq", 0)):
            raise ValueError(
                f"concurrent snapshot commit detected at {self.path}: "
                "reload the store before rolling back")
        try:
            with open(f"{self.path}/manifest_s{int(to_seq)}.json") as f:
                target = json.load(f)
        except OSError as e:
            have = [m.get("snapshot_seq", 0)
                    for m in self.snapshots(self.path)]
            raise ValueError(f"no snapshot seq {to_seq} at {self.path};"
                             f" committed seqs: {have}") from e
        seq = int(self.manifest.get("snapshot_seq", 0)) + 1
        manifest = dict(target)
        manifest["snapshot_seq"] = seq
        manifest["rolled_back_from"] = int(
            self.manifest.get("snapshot_seq", 0))
        manifest["rolled_back_to"] = int(to_seq)
        self._commit_manifest(self.path, manifest)
        df = self.spark.read.parquet(
            f"{self.path}/{manifest.get('data_dir', 'sketch')}")
        return SketchStore(self.spark, df, self.cfg, self.kind,
                           manifest["min_level"], manifest, self.path)

    def expire_snapshots(self, keep_last: int = 1) -> list[int]:
        """Iceberg expire-snapshots maintenance: drop committed
        snapshots older than the newest ``keep_last``, deleting their
        immutable manifest files and any data dir no retained snapshot
        still references. The current snapshot is always retained
        (keep_last >= 1 enforced). Time-travel reads to an expired seq
        fail with the committed-seqs error afterwards — the same
        contract as Iceberg's expire_snapshots. Returns expired seqs."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1 (the current "
                             "snapshot cannot be expired)")
        if not self.path:
            return []
        hist = self.snapshots(self.path)
        expired, retained = hist[:-keep_last], hist[-keep_last:]
        keep_dirs = {m.get("data_dir") for m in retained}
        out = []
        for m in expired:
            seq = int(m.get("snapshot_seq", 0))
            dd = m.get("data_dir")
            if dd and dd not in keep_dirs:
                shutil.rmtree(f"{self.path}/{dd}", ignore_errors=True)
            try:
                os.remove(f"{self.path}/manifest_s{seq}.json")
            except OSError:
                pass
            out.append(seq)
        return out

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
