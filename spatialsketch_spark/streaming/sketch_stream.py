"""Structured-Streaming sketch ingestion.

The reference consumes an unbounded point stream with per-tuple Update()
(experiments.cpp:312-319). Spark-native mapping: micro-batches through
``foreachBatch``, each batch running the SAME batch build pipeline
(build_sketch_df) and APPENDING its per-cell partials to the sketch
table. No merge is required for correctness:

- 'count' queries SUM val_sum over matched rows — partials add up.
- merge kinds (distinct/member/l2) merge all matched states per qid in
  the finisher — extra rows per cell are just more states to merge.
- additive kinds sum per-partial estimates; each partial CM min-row
  overestimates its own sub-stream, so the sum remains a valid (in fact
  tighter) CM-style overestimate of the total.

Streaming and batch stores are UNIFIED at the snapshot layer:

- each micro-batch commits to its own data dir ``batches/b<id>/``
  (mode=overwrite, so a foreachBatch REPLAY after a crash rewrites the
  same dir instead of double-appending — exactly-once table contents on
  Spark's at-least-once replay) plus a ``batches/b<id>.json`` sidecar
  carrying the batch's input fingerprint and per-partition lineage,
- ``compact()`` is a real snapshot COMMIT through the same
  ``SketchStore._commit_manifest`` path the batch store uses: it merges
  the base snapshot + uncompacted batch partials into ``sketch_s<seq>``
  and writes ``manifest_s<seq>.json`` with the accumulated input
  fingerprint — so a compacted streaming table can be opened with
  ``SketchStore.load`` (time travel included), resumed by
  ``build_or_load`` over the union input, and extended by
  ``merge_events``, exactly like a batch-built store,
- ``as_store()`` always returns a merge-capable store: its manifest
  carries the combined fingerprint of everything ingested so far.

Checkpointing (stream offsets) is Spark's own checkpointLocation; the
per-batch dirs + snapshot manifests make the whole stage resumable
(north_rule)."""

from __future__ import annotations

import json
import os
import re
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import SketchConfig
from ..geo.build import (SKETCH_SCHEMA, SketchStore, build_sketch_df,
                         _merge_partitions)


class StreamingSketch:
    def __init__(self, spark: SparkSession, cfg: SketchConfig, kind: str,
                 min_level: int, path: str):
        self.spark = spark
        self.cfg = cfg
        self.kind = kind
        self.min_level = min_level
        self.path = path
        self.batches_dir = f"{path}/batches"
        self.checkpoint = f"{path}/checkpoint"
        os.makedirs(self.batches_dir, exist_ok=True)

    def start(self, stream_events: DataFrame, trigger_once: bool = True):
        """stream_events: a streaming DF with (ts,item,x,y,value)."""
        writer = stream_events.writeStream \
            .foreachBatch(self._process_batch) \
            .option("checkpointLocation", self.checkpoint)
        if trigger_once:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def _process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """foreachBatch body. Spark replays an unacknowledged batch with
        the SAME batch_id after a crash (at-least-once); writing each
        batch to its own dir with mode=overwrite makes the replay
        rewrite instead of double-append — exactly-once table contents."""
        if batch_df.isEmpty():
            return
        partials = build_sketch_df(batch_df, self.cfg, self.kind,
                                   self.min_level, mode="partials")
        partials.write.mode("overwrite") \
            .parquet(f"{self.batches_dir}/b{int(batch_id)}")
        lineage, fingerprint = SketchStore._input_stats(batch_df)
        for r in lineage:
            r["batch_id"] = int(batch_id)
        meta = {"batch_id": int(batch_id), "fingerprint": fingerprint,
                "lineage": lineage, "ts": time.time()}
        with open(f"{self.batches_dir}/b{int(batch_id)}.json", "w") as f:
            json.dump(meta, f, sort_keys=True)

    # -- snapshot bookkeeping ----------------------------------------
    def _current_manifest(self) -> dict:
        try:
            with open(f"{self.path}/manifest.json") as f:
                return json.load(f)
        except OSError:
            return {}

    def _batch_metas(self, after: int = -1) -> list[dict]:
        """Committed batch sidecars with batch_id > ``after``, id order.
        A data dir without its sidecar (crash between the two writes) is
        surfaced by the replayed batch rewriting both."""
        metas = []
        for nm in os.listdir(self.batches_dir):
            m = re.fullmatch(r"b(\d+)\.json", nm)
            if m and int(m.group(1)) > after:
                with open(f"{self.batches_dir}/{nm}") as f:
                    metas.append(json.load(f))
        return sorted(metas, key=lambda d: d["batch_id"])

    def sketch_df(self) -> DataFrame:
        """Current table = last compacted snapshot (if any) ∪ batch dirs
        committed after it."""
        man = self._current_manifest()
        after = int(man.get("compacted_through_batch", -1))
        parts = []
        if "data_dir" in man:
            parts.append(f"{self.path}/{man['data_dir']}")
        parts += [f"{self.batches_dir}/b{m['batch_id']}"
                  for m in self._batch_metas(after)]
        if not parts:
            return self.spark.createDataFrame([], SKETCH_SCHEMA)
        # snapshot dirs are partitioned by grid_key, batch dirs are flat
        # — load each root separately and union (Spark rejects
        # mixed-layout multi-root reads)
        cols = [c.strip().split()[0] for c in SKETCH_SCHEMA.split(",")]
        dfs = [self.spark.read.schema(SKETCH_SCHEMA).parquet(p)
               .select(*cols) for p in parts]
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        return out

    def _accumulated_state(self) -> tuple[dict, list, int]:
        """(combined input fingerprint, lineage, max batch id) across
        the base snapshot + every uncompacted batch."""
        man = self._current_manifest()
        after = int(man.get("compacted_through_batch", -1))
        fp = man.get("input_fingerprint") or {
            "n_events": 0, "min_ts": None, "max_ts": None,
            "sum_hash": None}
        lineage = list(man.get("lineage", []))
        last = after
        for m in self._batch_metas(after):
            fp = SketchStore._combine_fingerprints(fp, m["fingerprint"])
            lineage += m["lineage"]
            last = m["batch_id"]
        return fp, lineage, last

    def compact(self) -> SketchStore:
        """Snapshot COMMIT: merge base + uncompacted batch partials to
        one row per (grid_key, cell) in a new ``sketch_s<seq>`` data dir
        and write ``manifest_s<seq>.json`` through the batch store's
        commit path. Read-amplification maintenance (the Iceberg
        rewrite-data-files analogue) — never needed for correctness —
        but ALSO the unification point: the result is a first-class
        SketchStore snapshot (loadable, time-travelable, mergeable)."""
        t0 = time.time()
        man = self._current_manifest()
        fp, lineage, last_batch = self._accumulated_state()
        df = self.sketch_df()
        nparts = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        merged = df.repartition(nparts, "grid_key", "cell").mapInArrow(
            _merge_partitions(self.cfg, self.kind), schema=SKETCH_SCHEMA)
        seq = int(man.get("snapshot_seq", -1)) + 1
        data_dir = f"sketch_s{seq}"
        # optimistic concurrency, check #1 (ADVICE r4): verify the
        # snapshot seq BEFORE overwriting sketch_s<seq> — a racing
        # merge_events / compact that already committed this seq must
        # not have its published data dir clobbered by our write (the
        # pre-commit re-check below would raise only AFTER the damage)
        disk = self._current_manifest()
        if int(disk.get("snapshot_seq", -1)) != int(
                man.get("snapshot_seq", -1)):
            raise ValueError(
                f"concurrent snapshot commit detected at {self.path}: "
                f"on-disk seq {disk.get('snapshot_seq')} != seq "
                f"{man.get('snapshot_seq')} this compact started from "
                "— re-run compact() against the new snapshot")
        merged.write.mode("overwrite").partitionBy("grid_key") \
              .parquet(f"{self.path}/{data_dir}")
        out = self.spark.read.parquet(f"{self.path}/{data_dir}")
        cfg = self.cfg
        manifest = {
            "kind": self.kind,
            "min_level": self.min_level,
            "streaming": True,
            "snapshot_seq": seq,
            "data_dir": data_dir,
            "parent_data_dir": man.get("data_dir"),
            "compacted_through_batch": last_batch,
            "input_fingerprint": fp,
            "cfg": {"n": cfg.n, "eps": cfg.eps, "delta": cfg.delta,
                    "seed": cfg.seed, "exact": cfg.exact,
                    "item_domain": cfg.item_domain,
                    "dropped_grids": sorted(cfg.dropped_grids)},
            "lineage": lineage,
            "metrics": {
                "input_events": fp["n_events"],
                **SketchStore._table_stats(out),
                "build_wall_s": round(time.time() - t0, 3),
                "build_mode": "streaming_compact",
            },
        }
        # optimistic concurrency, check #2 (mirrors merge_events,
        # ADVICE r3): re-read right before committing too, catching a
        # racer that landed between our data write and the manifest
        # commit (our orphan sketch_s<seq> write loses; theirs stands
        # only if they committed a manifest pointing at data they wrote
        # after ours — the narrow residue a filesystem manifest can't
        # close without a real catalog CAS, documented in COVERAGE.md)
        disk = self._current_manifest()
        if int(disk.get("snapshot_seq", -1)) != int(
                man.get("snapshot_seq", -1)):
            raise ValueError(
                f"concurrent snapshot commit detected at {self.path}: "
                f"on-disk seq {disk.get('snapshot_seq')} != seq "
                f"{man.get('snapshot_seq')} this compact started from "
                "— re-run compact() against the new snapshot")
        SketchStore._commit_manifest(self.path, manifest)
        return SketchStore(self.spark, out, self.cfg, self.kind,
                           self.min_level, manifest, self.path)

    def as_store(self) -> SketchStore:
        """Live read view over snapshot + uncompacted batches. The
        manifest carries the accumulated input fingerprint, so — unlike
        the pre-unification view — merge_events works on it (in-memory:
        no path, so it never races the streaming table's own commits)."""
        fp, lineage, _ = self._accumulated_state()
        return SketchStore(self.spark, self.sketch_df(), self.cfg,
                           self.kind, self.min_level,
                           manifest={"kind": self.kind,
                                     "min_level": self.min_level,
                                     "streaming": True,
                                     "input_fingerprint": fp,
                                     "lineage": lineage})


def windowed_event_counts(stream_events: DataFrame, width_s: int,
                          watermark_s: int,
                          group_cols: tuple = ()) -> DataFrame:
    """Event-time tumbling-window counts with late-data handling — the
    Structured-Streaming analogue of the batch ``time_rollup``
    (pipeline/temporal.py): integer ``ts`` (seconds) -> event time,
    watermark bounds state and drops rows later than ``watermark_s``
    behind the max seen event time. In append output mode a window is
    emitted exactly once, when the watermark passes its end — the
    exactly-once windowed aggregation shape of the brief.
    -> streaming DF (w_start BIGINT, [group cols...,] cnt BIGINT)."""
    from pyspark.sql import functions as F
    ev = stream_events.withColumn("etime", F.timestamp_seconds("ts")) \
        .withWatermark("etime", f"{watermark_s} seconds")
    agg = (ev.groupBy(F.window("etime", f"{width_s} seconds"),
                      *[F.col(c) for c in group_cols])
           .agg(F.sum("value").alias("cnt")))
    return agg.select(
        F.unix_timestamp(F.col("window.start")).cast("bigint")
        .alias("w_start"),
        *[F.col(c) for c in group_cols],
        F.col("cnt").cast("bigint"))


def stateful_cell_counts(stream_events: DataFrame,
                         tile_level: int) -> DataFrame:
    """Custom stateful per-tile accumulator via
    ``applyInPandasWithState`` — the brief's custom-stateful-operator
    shape. State per tile (tx, ty): running event count, value sum and
    max ts, persisted in the state store across micro-batches and
    emitted (updated) every batch the tile is touched. This is the
    streaming form of the engine's per-cell accumulation for operators
    whose state is NOT a mergeable monoid (where foreachBatch-append
    would not compose).
    -> streaming DF (tx, ty, n_events, val_sum, max_ts)."""
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        import pandas as pd
        n = vs = mx = 0
        if state.exists:
            n, vs, mx = state.get
        for pdf in pdfs:
            if not len(pdf):
                continue
            n += int(len(pdf))
            vs += int(pdf["value"].sum())
            mx = max(mx, int(pdf["ts"].max()))
        state.update((n, vs, mx))
        yield pd.DataFrame({"tx": [key[0]], "ty": [key[1]],
                            "n_events": [n], "val_sum": [vs],
                            "max_ts": [mx]})

    tiled = stream_events \
        .withColumn("tx", F.shiftright("x", tile_level)) \
        .withColumn("ty", F.shiftright("y", tile_level))
    return tiled.groupBy("tx", "ty").applyInPandasWithState(
        update,
        outputStructType=("tx BIGINT, ty BIGINT, n_events BIGINT, "
                          "val_sum BIGINT, max_ts BIGINT"),
        stateStructType="n BIGINT, vs BIGINT, mx BIGINT",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout)
