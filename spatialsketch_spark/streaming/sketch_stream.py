"""Structured-Streaming sketch ingestion.

The reference consumes an unbounded point stream with per-tuple Update()
(experiments.cpp:312-319). Spark-native mapping: micro-batches through
``foreachBatch``, each one a ``SketchStore`` append. ``StreamingSketch``
is only that adapter; the store owns appends, merge on read, compaction
and commits:

- the first micro-batch ``build``s snapshot 0 at the store path, and
  every later one is ``merge_events(batch_df, batch_id=id)``: it writes
  only its own ``delta_<uuid>`` dir and commits a manifest that lists it,
- the manifest records the last committed batch id, so a batch Spark
  replays after a crash (at-least-once) is a no-op — exactly-once table
  contents. A crash between the delta write and the commit leaves a
  delta dir that no manifest lists,
- ``as_store()`` is ``SketchStore.load``: base and deltas merged on read,
  answering every query kind exactly as ``compact()`` and a build over
  all events do; ``compact()`` folds the deltas into a new base.

Checkpointing (stream offsets) is Spark's own checkpointLocation; the
snapshot manifests make the whole stage resumable (north_rule)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..config import SketchConfig
from ..geo.build import SketchStore


class StreamingSketch:
    def __init__(self, spark: SparkSession, cfg: SketchConfig, kind: str,
                 min_level: int, path: str):
        self.spark = spark
        self.cfg = cfg
        self.kind = kind
        self.min_level = min_level
        self.path = path
        self.checkpoint = f"{path}/checkpoint"

    def start(self, stream_events: DataFrame, trigger_once: bool = True):
        """stream_events: a streaming DF with (ts,item,x,y,value)."""
        writer = stream_events.writeStream \
            .foreachBatch(self._process_batch) \
            .option("checkpointLocation", self.checkpoint)
        if trigger_once:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def _process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """foreachBatch body: one store append carrying ``batch_id`` as
        its replay token, or the seq-0 build when no snapshot exists."""
        if batch_df.isEmpty():
            return
        if os.path.exists(f"{self.path}/manifest.json"):
            self.as_store().merge_events(batch_df, batch_id=batch_id)
        else:
            SketchStore.build(self.spark, batch_df, self.cfg, self.kind,
                              self.min_level, self.path, batch_id=batch_id)

    def as_store(self) -> SketchStore:
        return SketchStore.load(self.spark, self.path, self.cfg, self.kind)

    def compact(self) -> SketchStore:
        return self.as_store().compact()


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
