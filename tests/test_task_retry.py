"""A sketch build is byte-identical when every mapInArrow task fails on
its first attempt and Spark retries it: the partial build and the merge
are pure functions of their input partition."""

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Runs in its own process: local[2,2] (2 task threads, a task may fail
# once) cannot be set on the suite's shared session.
SCRIPT = r'''
import json, sys
from pyspark import TaskContext
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


cfgs = {"cm": SketchConfig.realistic(n=64, item_domain=64),
        "exact": SketchConfig.exact_mode(item_domain=64, n=64)}
clean = {k: rows(k, c) for k, c in cfgs.items()}
build_mod._partial_builder = failing_first(build_mod._partial_builder,
                                           "partial")
build_mod._merge_partitions = failing_first(build_mod._merge_partitions,
                                            "merge")
retried = {k: rows(k, c) for k, c in cfgs.items()}
print(json.dumps({k: [len(clean[k]), clean[k] == retried[k]]
                  for k in cfgs}))
spark.stop()
'''


def test_build_bytes_survive_task_retries(tmp_path):
    env = dict(os.environ, PYTHONPATH=REPO)
    out = subprocess.run([sys.executable, "-c", SCRIPT, str(tmp_path)],
                         cwd=REPO, env=env, capture_output=True, text=True,
                         timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])
    for kind, (n_rows, same) in got.items():
        assert n_rows > 0 and same, (kind, n_rows)
    # every stage of both kinds really failed once and was retried
    stages = {f.split("-")[0] for f in os.listdir(tmp_path)}
    assert stages == {"partial", "merge"}
