"""A sketch build is byte-identical when every mapInArrow task fails on
its first attempt and Spark retries it: the partial build and the merge
are pure functions of their input partition. So is a probe-index pack
whose every task fails after it has written its block file: the retry
replaces the file whole and leaves no temp file."""

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Runs in its own process: local[2,2] (2 task threads, a task may fail
# once) cannot be set on the suite's shared session.
SCRIPT = r'''
import glob, json, os, sys
from pyspark import SparkFiles, TaskContext
from pyspark.sql import SparkSession
import spatialsketch_spark.geo.build as build_mod
from spatialsketch_spark.config import SketchConfig

marks = sys.argv[1]
spark = (SparkSession.builder.master("local[2,2]")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.ui.enabled", "false")
         .config("spark.python.daemon.module", "spatialsketch_spark.daemon")
         .getOrCreate())
spark.sparkContext.setLogLevel("OFF")
ev = spark.range(3000).selectExpr(
    "id AS ts", "(id * 7) % 50 AS item", "(id * 7919) % 64 AS x",
    "(id * 104729) % 64 AS y", "1 + id % 3 AS value")


def rows(kind, cfg):
    st = build_mod.SketchStore.build(spark, ev, cfg, kind, 0)
    return sorted((r.grid_key, r.cell, r.n_events, r.val_sum,
                   bytes(r.payload).hex()) for r in st.df.collect())


def failing_first(make, stage):
    def wrapped(*args):
        fn = make(*args)

        def attempt(batches):
            ctx = TaskContext.get()
            if ctx.attemptNumber() == 0:
                open(f"{marks}/{stage}-{ctx.stageId()}-{ctx.partitionId()}",
                     "w").close()
                raise RuntimeError("injected first-attempt failure")
            yield from fn(batches)
        return attempt
    return wrapped


def failing_after_write(make):
    def wrapped(*args):
        fn = make(*args)

        def attempt(batches):
            out = list(fn(batches))          # the block file is written
            ctx = TaskContext.get()
            if ctx.attemptNumber() == 0:
                open(f"{marks}/pack-{ctx.stageId()}-{ctx.partitionId()}",
                     "w").close()
                raise RuntimeError("injected failure after the write")
            yield from out
        return attempt
    return wrapped


def packed_after_retries(kind, cfg):
    st = build_mod.SketchStore.build(spark, ev, cfg, kind, 0)
    table = {r.grid_key * cfg.n ** 2 + r.cell:
             (r.val_sum, bytes(r.payload)) for r in st.df.collect()}
    nonempty = st.df.rdd.mapPartitions(lambda it: [any(True for _ in it)])
    n_nonempty = sum(nonempty.collect())
    pack = build_mod._pack_block
    build_mod._pack_block = failing_after_write(pack)
    try:
        assert st.serving_index(10 ** 9) is None
        st.serving_index(10 ** 9).count()
    finally:
        build_mod._pack_block = pack
    got = {}
    for p in st._index_paths.collect():
        key, val_sum, lo, hi, data = build_mod._load_block(p)
        for k, v, i, j in zip(key.tolist(), val_sum.tolist(), lo.tolist(),
                              hi.tolist()):
            got[k] = (v, data[i:j].tobytes())
    root = os.path.join(SparkFiles.getRootDirectory(), build_mod.INDEX_DIR)
    return [len(table), got == table,
            len(glob.glob(f"{root}/*.arrow")) == n_nonempty > 0,
            glob.glob(f"{root}/*.tmp") == []]


cfgs = {"cm": SketchConfig.realistic(n=64, item_domain=64),
        "exact": SketchConfig.exact_mode(item_domain=64, n=64)}
clean = {k: rows(k, c) for k, c in cfgs.items()}
pack = packed_after_retries("cm", cfgs["cm"])
build_mod._partial_builder = failing_first(build_mod._partial_builder,
                                           "partial")
build_mod._merge_partitions = failing_first(build_mod._merge_partitions,
                                            "merge")
retried = {k: rows(k, c) for k, c in cfgs.items()}
print(json.dumps({"build": {k: [len(clean[k]), clean[k] == retried[k]]
                            for k in cfgs}, "pack": pack}))
spark.stop()
'''


def test_build_bytes_survive_task_retries(tmp_path):
    env = dict(os.environ, PYTHONPATH=REPO)
    out = subprocess.run([sys.executable, "-c", SCRIPT, str(tmp_path)],
                         cwd=REPO, env=env, capture_output=True, text=True,
                         timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])
    for kind, (n_rows, same) in got["build"].items():
        assert n_rows > 0 and same, (kind, n_rows)
    # the retried pack: blocks == the table, one file per non-empty
    # split, no temp file left
    n_rows, same, one_file_per_split, no_tmp = got["pack"]
    assert n_rows > 0 and same and one_file_per_split and no_tmp, got
    # every stage of both kinds, and the pack, really failed once and
    # was retried
    stages = {f.split("-")[0] for f in os.listdir(tmp_path)}
    assert stages == {"partial", "merge", "pack"}
