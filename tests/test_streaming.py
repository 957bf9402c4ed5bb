"""Structured-Streaming sketch ingestion: incremental file-source
micro-batches -> append-only sketch partials -> queries match the batch
oracle at every point; compaction changes nothing."""

import os

import pytest
from pyspark.sql import functions as F

from spatialsketch_spark.config import SketchConfig
from spatialsketch_spark.geo.events import ITEM_DOMAIN, derive_geo_events
from spatialsketch_spark.geo.query import QuerySpec, SpatialSketchEngine
from spatialsketch_spark.streaming.sketch_stream import StreamingSketch

from conftest import SF_UNIT

N = 64
EVENT_SCHEMA = "ts BIGINT, item BIGINT, x BIGINT, y BIGINT, value BIGINT"


def truth(events, item=None):
    df = events.filter(F.col("x").between(0, 63) & F.col("y").between(0, 63))
    if item is not None:
        df = df.filter(F.col("item") == item)
    return df.count()


@pytest.mark.parametrize("compact", [False, True])
def test_streaming_matches_batch(spark, tmp_path, compact):
    ev = derive_geo_events(spark, SF_UNIT, N).cache()
    first = ev.filter(F.col("ts") < 500)
    second = ev.filter(F.col("ts") >= 500)

    src = str(tmp_path / "stream_src")
    first.write.mode("overwrite").parquet(src)

    cfg = SketchConfig.exact_mode(item_domain=ITEM_DOMAIN, n=N)
    ss = StreamingSketch(spark, cfg, "exact", 0, str(tmp_path / "sk"))
    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(src)
    q = ss.start(stream)
    q.awaitTermination(120)

    eng = SpatialSketchEngine(ss.as_store())
    full = [(0, 0, 63, 63)]
    got = eng.query([QuerySpec(0, full, "count")]).collect()[0]["est"]
    assert got == first.count()

    # append more files -> incremental micro-batch picks up only new data
    second.write.mode("append").parquet(src)
    q2 = ss.start(spark.readStream.schema(EVENT_SCHEMA).parquet(src))
    q2.awaitTermination(120)

    if compact:
        # exactly one row per cell after compaction
        dup = (ss.compact().df.groupBy("grid_key", "cell").count()
               .where("count > 1").count())
        assert dup == 0

    eng = SpatialSketchEngine(ss.as_store())
    qs = [QuerySpec(0, full, "count"),
          QuerySpec(1, full, "freq", item=3),
          QuerySpec(2, [(8, 8, 40, 40)], "distinct"),
          QuerySpec(3, full, "window", item=3, t0=700)]
    got = {r["qid"]: r["est"] for r in eng.query(qs).collect()}
    assert got[0] == ev.count()
    assert got[1] == truth(ev, 3)
    reg = ev.filter(F.col("x").between(8, 40) & F.col("y").between(8, 40))
    assert got[2] == reg.select("item").distinct().count()
    assert got[3] == ev.filter((F.col("item") == 3)
                               & (F.col("ts") >= 700)).count()


def test_streaming_batch_unification(spark, tmp_path):
    """The streaming table IS a batch store: micro-batches are store
    appends, a replayed batch_id is a no-op, as_store() carries the
    accumulated input fingerprint (so merge_events works on it), and
    compact() commits a first-class SketchStore snapshot — loadable,
    served by build_or_load over the union input, mergeable,
    time-travelable."""
    from spatialsketch_spark.geo.build import SketchStore
    ev = derive_geo_events(spark, SF_UNIT, N).cache()
    first = ev.filter(F.col("ts") < 500)
    second = ev.filter(F.col("ts") >= 500)
    cfg = SketchConfig.exact_mode(item_domain=ITEM_DOMAIN, n=N)
    p = str(tmp_path / "sk")
    ss = StreamingSketch(spark, cfg, "exact", 0, p)

    # ingest batch 0; a crash-replay of the SAME batch_id must not
    # double-append
    ss._process_batch(first, 0)
    ss._process_batch(first, 0)
    store = ss.as_store()
    assert store.manifest["snapshot_seq"] == 0
    full = [(0, 0, 63, 63)]
    q = [QuerySpec(0, full, "count")]
    est = SpatialSketchEngine(store).query(q).collect()[0]["est"]
    assert est == first.count()

    # the store is merge-capable: fingerprint accumulated per batch; a
    # merge_events carrying the next batch id is that batch's append,
    # and the same batch arriving through the stream is then a replay
    assert (store.manifest["input_fingerprint"]
            == SketchStore.fingerprint_events(first))
    merged_view = store.merge_events(second, batch_id=1)
    est = SpatialSketchEngine(merged_view).query(q).collect()[0]["est"]
    assert est == ev.count()
    ss._process_batch(second, 1)
    assert ss.as_store().manifest == merged_view.manifest

    # compact() = snapshot commit through the batch store's path
    st = ss.compact()
    assert st.manifest["snapshot_seq"] == 2
    assert st.manifest["deltas"] == []
    assert st.manifest["last_batch_id"] == 1
    assert (st.manifest["input_fingerprint"]
            == SketchStore.fingerprint_events(ev))
    loaded = SketchStore.load(spark, p, cfg, "exact")
    assert SpatialSketchEngine(loaded).query(q).collect()[0]["est"] \
        == ev.count()
    # build_or_load over the union input serves the compacted snapshot
    served = SketchStore.build_or_load(spark, ev, cfg, "exact", 0, p)
    assert served.manifest == st.manifest

    # post-compact batches layer on top; second commit, then time travel
    extra = ev.limit(50)
    ss._process_batch(extra, 2)
    est = SpatialSketchEngine(ss.as_store()).query(q).collect()[0]["est"]
    assert est == ev.count() + 50
    st2 = ss.compact()
    assert st2.manifest["snapshot_seq"] == 4
    hist = SketchStore.snapshots(p)
    assert [m["snapshot_seq"] for m in hist] == [0, 1, 2, 3, 4]
    tv = SketchStore.load(spark, p, cfg, "exact", at_seq=2)
    assert SpatialSketchEngine(tv).query(q).collect()[0]["est"] \
        == ev.count()


def test_windowed_event_counts_watermark(spark, tmp_path):
    """Event-time tumbling windows with watermark: batch-1 windows whose
    end precedes the watermark are finalized (append mode emits them
    exactly once); a too-late row arriving in batch 2 is dropped."""
    from spatialsketch_spark.streaming.sketch_stream import (
        windowed_event_counts)
    src = str(tmp_path / "wsrc")
    rows1 = [(t, 1, 1, 1, 1) for t in range(0, 100)]      # windows 0..90
    spark.createDataFrame(rows1, EVENT_SCHEMA).coalesce(1) \
        .write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(src)
    out = windowed_event_counts(stream, width_s=10, watermark_s=5)
    q = (out.writeStream.format("memory").queryName("wm_counts")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "wck"))
         .start())
    q.processAllAvailable()
    got1 = {r["w_start"]: r["cnt"]
            for r in spark.sql("select * from wm_counts").collect()}
    # watermark after batch 1 = 99 - 5 = 94: windows ending <= 94
    # (w_start 0..80) are final; [90,100) is still open
    assert got1 == {w: 10 for w in range(0, 90, 10)}
    # batch 2: one too-late row (ts=3, watermark 94 > window end 10 ->
    # dropped) and fresh rows that close the [90,100) window
    rows2 = [(3, 1, 1, 1, 1)] + [(t, 1, 1, 1, 1) for t in range(100, 120)]
    spark.createDataFrame(rows2, EVENT_SCHEMA).coalesce(1) \
        .write.mode("append").parquet(src)
    q.processAllAvailable()
    q.stop()
    got2 = {r["w_start"]: r["cnt"]
            for r in spark.sql("select * from wm_counts").collect()}
    assert got2[90] == 10            # closed exactly once, late row absent
    assert got2[0] == 10             # unchanged: ts=3 was dropped


def test_stateful_cell_counts_across_batches(spark, tmp_path):
    """applyInPandasWithState: per-tile running state survives across
    micro-batches (state store), not just within one batch."""
    from spatialsketch_spark.streaming.sketch_stream import (
        stateful_cell_counts)
    src = str(tmp_path / "ssrc")
    rows1 = [(t, 1, (t % 2) * 16, 0, 2) for t in range(10)]  # tiles 0 and 1
    spark.createDataFrame(rows1, EVENT_SCHEMA).coalesce(1) \
        .write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(src)
    out = stateful_cell_counts(stream, tile_level=4)
    q = (out.writeStream.format("memory").queryName("cell_state")
         .outputMode("update")
         .option("checkpointLocation", str(tmp_path / "sck"))
         .start())
    q.processAllAvailable()
    # batch 2 touches only tile 0 — its state must ACCUMULATE
    rows2 = [(100 + t, 1, 0, 0, 1) for t in range(5)]
    spark.createDataFrame(rows2, EVENT_SCHEMA).coalesce(1) \
        .write.mode("append").parquet(src)
    q.processAllAvailable()
    q.stop()
    import pandas as pd
    pdf = spark.sql("select * from cell_state").toPandas()
    # last emitted row per tile = current running state
    last = pdf.groupby(["tx", "ty"]).last().reset_index()
    t0 = last[(last.tx == 0) & (last.ty == 0)].iloc[0]
    t1 = last[(last.tx == 1) & (last.ty == 0)].iloc[0]
    assert (t0.n_events, t0.val_sum, t0.max_ts) == (10, 15, 104)
    assert (t1.n_events, t1.val_sum, t1.max_ts) == (5, 10, 9)


def test_streaming_session_windows(spark, tmp_path):
    """session_rollup's operator (native session_window) also runs
    under Structured Streaming: with a watermark, a session is emitted
    exactly once, when the watermark passes its close (append mode) —
    and matches the batch session_rollup over the same prefix."""
    from spatialsketch_spark.pipeline.temporal import session_rollup
    src = str(tmp_path / "sess_src")
    rows1 = ([(t, 1, 0, 0, 1) for t in (0, 5, 8, 40, 44)]      # 2 sessions
             + [(t, 2, 0, 0, 2) for t in (10, 12)]
             + [(900, 9, 0, 0, 1)])    # advances watermark far past them
    spark.createDataFrame(rows1, EVENT_SCHEMA).coalesce(1) \
        .write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(src)
    ev = stream.withColumn("et", F.timestamp_seconds("ts")) \
               .withWatermark("et", "10 seconds")
    agg = (ev.groupBy("item", F.session_window("et", "10 seconds"))
           .agg(F.count("*").alias("n_events"),
                F.sum("value").alias("val_sum"))
           .select(F.col("item").cast("bigint"),
                   F.unix_timestamp("session_window.start").cast("bigint")
                   .alias("s_start"),
                   F.unix_timestamp("session_window.end").cast("bigint")
                   .alias("s_end"),
                   F.col("n_events").cast("bigint"),
                   F.col("val_sum").cast("bigint")))
    q = (agg.writeStream.format("memory").queryName("sess")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "sess_ck"))
         .start())
    q.processAllAvailable()
    q.stop()
    got = sorted(tuple(r) for r in spark.sql(
        "select * from sess").collect())
    batch = spark.createDataFrame(
        [r for r in rows1 if r[0] < 800], EVENT_SCHEMA)
    want = sorted(tuple(r) for r in
                  session_rollup(batch, gap=10).collect())
    assert got == want and len(got) == 3


def test_compact_concurrent_commit_rejected(spark, tmp_path, monkeypatch):
    """A compact racing another commit on the same path must not
    clobber the winner: the racer commits while compact() writes its
    new base, compact()'s commit is refused, its dir is removed, and the
    winner's snapshot loads intact. Asserts post-race data integrity,
    not just the exception."""
    from spatialsketch_spark.geo.build import SketchStore
    ev = derive_geo_events(spark, SF_UNIT, N).cache()
    cfg = SketchConfig.exact_mode(item_domain=ITEM_DOMAIN, n=N)
    p = str(tmp_path / "sk")
    ss = StreamingSketch(spark, cfg, "exact", 0, p)
    ss._process_batch(ev.filter(F.col("ts") < 500), 0)     # seq 0
    ss._process_batch(ev.filter(F.col("ts") >= 500), 1)    # seq 1
    loser = ss.as_store()

    # simulate a commit landing mid-compact: the racer's append
    # advances the on-disk seq while compact() writes its base
    from pyspark.sql import DataFrameWriter
    orig = DataFrameWriter.parquet
    racer = []

    def racing(self, path, *a, **kw):
        out = orig(self, path, *a, **kw)
        if not racer and "/sketch_s" in path:
            racer.append(None)
            racer[0] = ss.as_store().merge_events(ev.limit(10),
                                                  batch_id=2)
        return out

    monkeypatch.setattr(DataFrameWriter, "parquet", racing)
    with pytest.raises(ValueError, match="concurrent snapshot commit"):
        loser.compact()
    monkeypatch.undo()
    cur = SketchStore.load(spark, p, cfg, "exact")
    assert cur.manifest == racer[0].manifest          # seq 2, the racer's
    assert sorted(map(tuple, cur.df.collect())) \
        == sorted(map(tuple, racer[0].df.collect()))
    assert not [d for d in os.listdir(p) if d.startswith("sketch_s")]
    st3 = ss.compact()                       # fresh attempt succeeds
    assert st3.manifest["snapshot_seq"] == 3


def test_stream_window_fixture_margins_and_drops(spark):
    """The watermark gate's determinism rests on two fixture properties
    at the oracle SF: (1) no window end falls within the ambiguous band
    between run-0's committed watermark and run-1's max watermark (so
    intra-run batch splits and <=/< eviction semantics can't flip a
    verdict), and (2) late rows actually exist and are dropped (the
    emitted total is strictly below the row count)."""
    from pyspark.sql import functions as F
    from conftest import SF_ORACLE
    from spatialsketch_spark.gate_pipeline import q_stream_window
    ev = spark.read.parquet(f"{SF_ORACLE}/events.parquet")
    ts0 = F.expr("((event_id div 2) * 41) % 2000")
    late = F.expr("((event_id div 2) * 37) % 1300")
    ontime = F.expr("1500 + ((event_id div 2) * 37) % 560")
    ts_s = (F.when(F.expr("event_id % 2 = 0"), ts0)
            .when(F.expr("(event_id div 2) % 5 = 0"), late)
            .otherwise(ontime)).cast("bigint").alias("ts_s")
    rows = ev.select(ts_s, F.expr("event_id % 2").alias("p")).cache()
    wm0 = rows.where("p = 0").agg(F.max("ts_s")).collect()[0][0] - 600
    wm1 = max(wm0, rows.where("p = 1").agg(F.max("ts_s"))
              .collect()[0][0] - 600)
    # every part-1 window end stays >= 60 s away from the (wm0, wm1] band
    band = (rows.where("p = 1")
            .select((F.expr("(ts_s div 60) * 60") + 60).alias("we"))
            .where(F.col("we") > wm0 - 60).where(F.col("we") <= wm1 + 60)
            .count())
    assert band == 0, f"{band} part-1 window ends in the ambiguous band"
    n_total = rows.count()
    n_late = (rows.where("p = 1")
              .where(F.expr(f"(ts_s div 60) * 60 + 60 <= {wm0}")).count())
    assert n_late > 0, "fixture has no late rows - watermark untested"
    emitted = q_stream_window(spark, SF_ORACLE) \
        .agg(F.sum("cnt")).collect()[0][0]
    assert emitted == n_total - n_late
    rows.unpersist()


def test_stream_sliding_r6_candidate(spark, duck):
    """Sliding-window watermark candidate (unregistered, r6): the
    emitted window set must bit-match the pair-granular DuckDB oracle —
    including late rows counted in their still-open second window."""
    import pandas as pd
    from conftest import SF_ORACLE
    from spatialsketch_spark.gate_pipeline import (oracle_stream_sliding,
                                                   q_stream_sliding)
    got = q_stream_sliding(spark, SF_ORACLE).toPandas() \
        .reset_index(drop=True)
    want = duck.execute(oracle_stream_sliding()).df()
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    # overlap semantics exercised: total pair count must be exactly 2x
    # the kept rows (every kept row contributes to two windows)
    kept = duck.execute("""
WITH base AS (SELECT event_id // 2 AS e2, event_id % 2 AS p FROM events),
r AS (SELECT CASE WHEN p = 0 THEN (e2 * 41) % 2000
            WHEN e2 % 5 = 0 THEN (e2 * 37) % 1220
            ELSE 1500 + (e2 * 37) % 560 END AS ts_s, p FROM base),
wm AS (SELECT MAX(ts_s) - 600 AS w0 FROM r WHERE p = 0)
SELECT COUNT(*) FROM r, wm
WHERE p = 0 OR (ts_s // 60) * 60 + 120 > w0
""").fetchone()[0]
    assert int(got.cnt.sum()) == 2 * kept


def test_stream_session_fixture_margins_and_structure(spark, duck):
    """r7 session-window gate: (1) bit-match vs the DuckDB oracle,
    (2) the determinism margins hold at the oracle SF — late rows'
    session ends sit >= 60 s below run-0's watermark, on-time run-1
    rows sit >= 60 s above it AND > gap + 60 above every run-0 session
    that could already be emitted, (3) late drops and cross-restart
    merges actually happen (emitted total = kept rows; some session
    spans the run-0 tail AND run-1 on-time ranges), (4) the fixture
    contains exact-gap pairs, pinning Spark's END-INCLUSIVE merge
    boundary (they must merge)."""
    import pandas as pd
    from pyspark.sql import functions as F
    from conftest import SF_ORACLE
    from spatialsketch_spark.gate_pipeline import (oracle_stream_session,
                                                   q_stream_session)
    got = q_stream_session(spark, SF_ORACLE).toPandas() \
        .reset_index(drop=True)
    want = duck.execute(oracle_stream_session()).df()
    pd.testing.assert_frame_equal(got, want, check_dtype=False)

    ev = spark.read.parquet(f"{SF_ORACLE}/events.parquet")
    i = F.expr("event_id div 2")
    p = F.expr("event_id % 2")
    blk = F.expr("cast(conv(substring(md5(cast(event_id div 2 as "
                 "string)), 1, 15), 16, 10) as bigint) % 24000")
    ts_s = (F.when((p == 0) & (i % 5 == 4), F.lit(34000) + (i * 37) % 200)
            .when(p == 0, F.lit(10000) + blk)
            .when(i % 5 == 0, F.lit(10000) + (i * 37) % 1200)
            .otherwise(F.lit(34100) + (i * 37) % 300)).cast("bigint")
    rows = ev.select((i % 40).cast("bigint").alias("k"),
                     ts_s.alias("ts_s"), p.alias("p")).cache()
    wm0 = rows.where("p = 0").agg(F.max("ts_s")).collect()[0][0] - 600
    late = rows.where("p = 1").where("ts_s < 20000")
    n_late = late.count()
    assert n_late > 0
    assert late.agg(F.max("ts_s")).collect()[0][0] + 120 <= wm0 - 60
    ontime_min = rows.where("p = 1").where("ts_s >= 20000") \
        .agg(F.min("ts_s")).collect()[0][0]
    assert ontime_min >= wm0 + 60
    # any run-0 session emitted before run 1 ends <= wm0, i.e. its last
    # event <= wm0 - 120; on-time rows must sit > gap + 60 above that
    assert ontime_min - (wm0 - 120) > 120 + 60
    # all kept rows emitted, late dropped
    assert int(got["cnt"].sum()) == rows.count() - n_late
    # cross-restart merge: some session starts in the run-0 tail range
    # and ends after a run-1 on-time event extended it
    merged = got[(got.sess_start < 34100) & (got.sess_end > 34220)]
    assert len(merged) > 0, "no session merged across the restart"
    # exact-gap pairs exist somewhere in the kept stream and merged
    kept = rows.where("p = 0 or ts_s >= 20000")
    from pyspark.sql.window import Window
    w = Window.partitionBy("k").orderBy("ts_s")
    gaps = kept.withColumn("d", F.col("ts_s") - F.lag("ts_s").over(w))
    n_exact = gaps.where("d = 120").count()
    assert n_exact > 0, "fixture lost its exact-gap boundary pairs"
    rows.unpersist()


def test_stream_static_join_broadcasts_and_rereads_dim(spark, tmp_path):
    """evt_stream_static_join's load-bearing properties, pinned at the
    physical level. (A) A plan-embedded static side enters every
    micro-batch as a BroadcastHashJoin with NO StateStore operator
    anywhere (stream-static is state-free enrichment, unlike every
    stream-stream join) — but its file-source LISTING is snapshotted
    at query start, so a mid-query overwrite of plain parquet is NOT
    picked up (it fails with FILE_NOT_EXIST — pinned, because relying
    on the opposite silently serves stale dims). (B) The per-batch
    dim-refresh idiom on plain files is therefore a foreachBatch
    re-read (what this pins, v0→v1 within ONE running query) or a
    query restart (what the gate's two availableNow runs prove)."""
    src = str(tmp_path / "src")
    dim = str(tmp_path / "dim")
    out = str(tmp_path / "out")

    def write_dim(n_segs, ver):
        spark.range(n_segs).selectExpr(
            "id AS seg_id", f"'{ver}' AS seg_name") \
            .write.mode("overwrite").parquet(dim)

    write_dim(8, "v0")
    spark.range(0, 100).selectExpr("id AS event_id", "id % 16 AS seg_id") \
        .coalesce(1).write.mode("overwrite").parquet(src)

    # --- A: plan shape + the listing-snapshot caveat -----------------
    s = (spark.readStream.schema("event_id bigint, seg_id bigint")
         .parquet(src)
         .join(F.broadcast(spark.read.parquet(dim)), "seg_id")
         .select("event_id", "seg_id", "seg_name"))
    qa = (s.writeStream.outputMode("append").format("parquet")
          .option("path", out)
          .option("checkpointLocation", str(tmp_path / "ck_a"))
          .trigger(processingTime="1 second").start())
    try:
        qa.processAllAvailable()
        plan = qa._jsq.explainInternal(False)
        assert "BroadcastHashJoin" in plan, plan
        assert "StateStore" not in plan, plan
        write_dim(8, "v0b")          # overwrite deletes listed files
        spark.range(100, 110) \
            .selectExpr("id AS event_id", "id % 8 AS seg_id") \
            .coalesce(1).write.mode("append").parquet(src)
        with pytest.raises(Exception, match="FILE_NOT_EXIST|does not exist"):
            qa.processAllAvailable()
    finally:
        qa.stop()
    assert spark.read.parquet(out).where("seg_name <> 'v0'").count() == 0

    # --- B: foreachBatch re-read sees the new dim within one query ---
    out_b = str(tmp_path / "out_b")
    seen_plans = []

    def sink(bdf, _bid):
        d = F.broadcast(bdf.sparkSession.read.parquet(dim))
        j = bdf.join(d, "seg_id").select("event_id", "seg_id", "seg_name")
        seen_plans.append(
            j._jdf.queryExecution().executedPlan().toString())
        j.write.mode("append").parquet(out_b)

    qb = (spark.readStream.schema("event_id bigint, seg_id bigint")
          .parquet(src)
          .writeStream.foreachBatch(sink)
          .option("checkpointLocation", str(tmp_path / "ck_b"))
          .trigger(processingTime="1 second").start())
    try:
        qb.processAllAvailable()
        write_dim(16, "v1")
        spark.range(200, 300) \
            .selectExpr("id AS event_id", "id % 16 AS seg_id") \
            .coalesce(1).write.mode("append").parquet(src)
        qb.processAllAvailable()
    finally:
        qb.stop()
    got = spark.read.parquet(out_b)
    # first batches (event_id < 200, incl. the 10 appended in A):
    # only seg_id < 8 joins, names v0/v0b; the v1 batch joins all 16
    assert got.where("event_id < 200 AND seg_id >= 8").count() == 0
    assert got.where("event_id < 200 AND seg_name = 'v1'").count() == 0
    assert got.where("event_id >= 200").count() == 100
    assert got.where("event_id >= 200 AND seg_name <> 'v1'").count() == 0
    assert all("BroadcastHashJoin" in p for p in seen_plans)


def test_uneq_watermark_join_min_semantics(spark):
    """The unequal-delay gate must be NON-VACUOUS in the direction it
    pins: cls-1 rights sit BELOW the right side's own local watermark
    (11370) at delivery time, so per-side late filtering would drop
    every one of them — their presence in the output is exactly the
    global-min-watermark semantics; cls-0 (globally late) keys must be
    absent, and every run-0 pair survives."""
    from spatialsketch_spark.gate_pipeline import q_stream_join_uneq

    got = q_stream_join_uneq(spark, SF_UNIT).toPandas()
    odd = got[got.k % 2 == 1]
    assert len(odd) > 0                       # cls-1 accepted
    assert ((odd.k // 2) % 3 == 1).all()      # ONLY cls-1 among odds
    assert (odd.rts_s >= 10780).all()         # the below-local-wm band
    assert (odd.rts_s <= 11259).all()
    even = got[got.k % 2 == 0]
    assert (even.rts_s - even.lts_s).between(0, 119).all()


def test_idempotent_sink_nonvacuous_vs_append(spark, tmp_path):
    """The redelivery harness must actually redeliver: the SAME
    checkpoint-wipe + rerun sequence with a naive APPEND foreachBatch
    sink ends with exactly TWO copies of every row — proving the
    gate's single-copy result comes from the partition-overwrite
    idempotence pattern, not from the engine silently skipping
    replayed data."""
    from pyspark.sql import functions as F
    import shutil

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ck")
    spark.range(100).select(F.col("id").alias("event_id")) \
        .coalesce(1).write.mode("overwrite").parquet(src)

    def sink(bdf, bid):
        bdf.write.mode("append").parquet(out)     # NOT idempotent

    def run():
        s = (spark.readStream.schema("event_id bigint")
             .option("maxFilesPerTrigger", 1).parquet(src))
        (s.writeStream.foreachBatch(sink)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start().awaitTermination(300))

    run()
    shutil.rmtree(ckpt)
    run()
    got = spark.read.parquet(out).groupBy("event_id").count().collect()
    assert len(got) == 100
    assert all(r["count"] == 2 for r in got)      # duplicated exactly


# Two micro-batches of disjoint items into the same two cells. The live
# view holds one partial per batch per cell; it must answer every query
# kind its kernel answers exactly like compact() and build(all).
LIVE_BATCHES = ([(0, 1, 10, 10, 1), (1, 1, 11, 12, 1)],
                [(2, 2, 10, 10, 1), (3, 2, 11, 12, 1)])
LIVE_QUERIES = {"count": {}, "freq": {"item": 2},
                "range_freq": {"item": 1, "item_end": 2},
                "window": {"item": 2, "t0": 3},
                "window_merge": {"item": 2, "t0": 2},
                "distinct": {}, "member": {"item": 2}, "l2": {}}
LIVE_KINDS = {"exact": list(LIVE_QUERIES),
              "fm": ["count", "distinct"],
              "bf": ["count", "member"],
              "cm": ["count", "freq", "l2"]}


@pytest.mark.parametrize("kind", sorted(LIVE_KINDS))
def test_live_view_answers_like_compact(spark, tmp_path, kind):
    from spatialsketch_spark.geo.build import SketchStore
    cfg = (SketchConfig.exact_mode(item_domain=64, n=N) if kind == "exact"
           else SketchConfig.realistic(n=N, item_domain=64))
    b0, b1 = (spark.createDataFrame(b, EVENT_SCHEMA) for b in LIVE_BATCHES)
    ss = StreamingSketch(spark, cfg, kind, 0, str(tmp_path / "sk"))
    ss._process_batch(b0, 0)
    ss._process_batch(b1, 1)
    qs = [QuerySpec(i, [(8, 8, 15, 15)], qk, **LIVE_QUERIES[qk])
          for i, qk in enumerate(LIVE_KINDS[kind])]
    live = SpatialSketchEngine(ss.as_store()).query_values(qs)
    compacted = SpatialSketchEngine(ss.compact()).query_values(qs)
    full = SpatialSketchEngine(SketchStore.build(
        spark, b0.unionByName(b1), cfg, kind, 0)).query_values(qs)
    assert live == compacted == full
    if kind == "exact":
        assert list(full.values()) == [4, 2, 4, 1, 2, 2, 1, 8]
