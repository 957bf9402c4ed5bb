"""Per-layer metrics of a traced run, folded from its spans.

Every metric is a per-operation median over the traced operations (or a
per-update / per-state figure for ``kernels.*``). A layer the workload
does not reach reports 0. README.md maps each layer to the end-to-end
metric it should move.
"""

from __future__ import annotations

import statistics

BUILD_LAYERS = ("exchange", "partial", "merge")
STAGE_FIELDS = {"wall_s": "s", "run_s": "s", "jvm_cpu_s": "s",
                "shuffle_write_mb": "MB", "shuffle_read_mb": "MB",
                "shuffle_write_records": "count",
                "shuffle_read_records": "count", "spill_mb": "MB",
                "tasks": "count"}

PER_LAYER = {
    "kernels.build_ns_per_update": "ns",
    "kernels.serialize_us_per_state": "us",
    "kernels.merge_us_per_state": "us",
    "kernels.state_bytes": "bytes",
    "build.wall_s": "s",
    "build.tree_cpu_s": "s",
    "build.driver_s": "s",
    "build.bookkeeping_s": "s",
    "build.partials_per_cell": "ratio",
    **{f"build.{layer}.{f}": u for layer in BUILD_LAYERS
       for f, u in STAGE_FIELDS.items()},
    "partitioner.s_per_batch": "s",
    "partitioner.rects_per_query": "count",
    "partitioner.tree_cpu_s": "s",
    "dyadic.s_per_batch": "s",
    "dyadic.cover_rows_per_query": "count",
    "dyadic.tree_cpu_s": "s",
    "query.wall_s": "s",
    "query.driver_s": "s",
    "query.jobs_s": "s",
    "query.jobs_per_batch": "count",
    "query.tasks_per_batch": "count",
    "query.shuffle_mb": "MB",
    "query.jvm_cpu_s": "s",
    "query.tree_cpu_s": "s",
    "commit.merge_s": "s",
    "commit.merge.jobs_s": "s",
    "commit.merge.jvm_cpu_s": "s",
    "commit.merge.shuffle_mb": "MB",
    "commit.merge.tree_cpu_s": "s",
    "commit.expire_s": "s",
    "commit.write_mb_per_delta_mb": "ratio",
    "ingest.query_s": "s",
    "joins.pip.wall_s": "s",
    "joins.pip.run_s": "s",
    "joins.pip.jvm_cpu_s": "s",
    "joins.pip.tree_cpu_s": "s",
    "joins.knn.wall_s": "s",
    "joins.knn.run_s": "s",
    "joins.knn.jvm_cpu_s": "s",
    "joins.knn.tree_cpu_s": "s",
    "joins.knn.candidate_rows": "count",
    "joins.knn.useful_frac": "ratio",
    "spark.gc_s": "s",
    "trace.overhead_frac": "ratio",
    "trace.self_sum_frac": "ratio",
    "trace.unattributed_frac": "ratio",
}

# one root span per timed operation; joins.round and ingest.cycle are
# side samples and stay out of the whole-operation figures
ROOTS = ("build", "serve.batch")


def _med(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def layer_metrics(plain, traced, spans, kernels: dict) -> dict:
    """Fold traced spans into the PER_LAYER metrics."""
    by_name: dict[str, list[dict]] = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)

    def named(name):
        return by_name.get(name, [])

    def spark(name, key):
        return _med(s["spark"][key] for s in named(name))

    out = {k: 0.0 for k in PER_LAYER}
    out.update(kernels)

    # build ------------------------------------------------------------
    builds = named("build")
    if builds:
        out["build.wall_s"] = _med(s["wall_s"] for s in builds)
        out["build.tree_cpu_s"] = _med(s["tree_cpu_s"] for s in builds)
        out["build.driver_s"] = _med(s["self_s"] for s in builds)
        out["build.partials_per_cell"] = _med(
            s["partials_rows"] / s["sketch_cells"] for s in builds)
        out["build.bookkeeping_s"] = _med(
            c["wall_s"] for b in builds for c in kids.get(b["id"], ())
            if c["name"] == "build.bookkeeping")
    # per build, per sub-layer: wall is the union of its stage intervals,
    # the counters are sums over its stages
    from ledger import sum_stages
    for layer in BUILD_LAYERS:
        per_build = []
        for b in builds:
            st = [s for s in b["stages"] if s.get("layer")
                  == f"build.{layer}"]
            per_build.append(sum_stages(st))
        for f in STAGE_FIELDS:
            out[f"build.{layer}.{f}"] = _med(p[f] for p in per_build)

    # serving: partitioner, dyadic, query ------------------------------
    for s_name, key in (("partitioner", "rects"), ("dyadic", "cover_rows")):
        sp = named(s_name)
        if sp:
            out[f"{s_name}.s_per_batch"] = _med(s["wall_s"] for s in sp)
            out[f"{s_name}.tree_cpu_s"] = _med(s["tree_cpu_s"] for s in sp)
            per_q = "rects_per_query" if key == "rects" \
                else "cover_rows_per_query"
            out[f"{s_name}.{per_q}"] = _med(s[key] / s["queries"]
                                            for s in sp)
    q = named("query")
    if q:
        out["query.wall_s"] = _med(s["wall_s"] for s in q)
        out["query.driver_s"] = _med(s["self_s"] for s in q)
        out["query.jobs_s"] = spark("query", "wall_s")
        out["query.jobs_per_batch"] = spark("query", "jobs")
        out["query.tasks_per_batch"] = spark("query", "tasks")
        out["query.shuffle_mb"] = _med(s["spark"]["shuffle_write_mb"]
                                       + s["spark"]["shuffle_read_mb"]
                                       for s in q)
        out["query.jvm_cpu_s"] = spark("query", "jvm_cpu_s")
        out["query.tree_cpu_s"] = _med(s["tree_cpu_s"] for s in q)

    # commit -----------------------------------------------------------
    cm = named("commit.merge")
    if cm:
        out["commit.merge_s"] = _med(s["wall_s"] for s in cm)
        out["commit.merge.jobs_s"] = spark("commit.merge", "wall_s")
        out["commit.merge.jvm_cpu_s"] = spark("commit.merge", "jvm_cpu_s")
        out["commit.merge.shuffle_mb"] = _med(
            s["spark"]["shuffle_write_mb"] + s["spark"]["shuffle_read_mb"]
            for s in cm)
        out["commit.merge.tree_cpu_s"] = _med(s["tree_cpu_s"] for s in cm)
        out["commit.expire_s"] = _med(s["wall_s"]
                                      for s in named("commit.expire"))
        out["commit.write_mb_per_delta_mb"] = _med(
            s["write_mb"] / s["delta_mb"] for s in named("ingest.cycle"))
        out["ingest.query_s"] = _med(s["wall_s"]
                                     for s in named("ingest.query"))

    # joins ------------------------------------------------------------
    for j in ("pip", "knn"):
        sp = named(f"joins.{j}")
        if sp:
            out[f"joins.{j}.wall_s"] = _med(s["wall_s"] for s in sp)
            out[f"joins.{j}.run_s"] = spark(f"joins.{j}", "run_s")
            out[f"joins.{j}.jvm_cpu_s"] = spark(f"joins.{j}", "jvm_cpu_s")
            out[f"joins.{j}.tree_cpu_s"] = _med(s["tree_cpu_s"] for s in sp)
    knn = named("joins.knn")
    if knn:
        cand = [s for s in knn if s["candidate_rows"]]
        out["joins.knn.candidate_rows"] = _med(s["candidate_rows"]
                                               for s in cand)
        out["joins.knn.useful_frac"] = _med(
            s["result_rows"] / s["candidate_rows"] for s in cand)

    # whole operations -------------------------------------------------
    roots = [s for s in spans if s["parent"] is None and s["name"] in ROOTS]
    out["spark.gc_s"] = _med(
        sum(d["spark"]["gc_s"] for d in _subtree(r, kids) if "spark" in d)
        for r in roots)
    out["trace.self_sum_frac"] = _med(
        sum(d["self_s"] for d in _subtree(r, kids)) / r["wall_s"]
        for r in roots)
    out["trace.unattributed_frac"] = _med(r["self_s"] / r["wall_s"]
                                          for r in roots)
    p_plain = _med(o.unstolen_s for o in plain if o.ok)
    p_traced = _med(o.unstolen_s for o in traced if o.ok)
    if p_plain:
        out["trace.overhead_frac"] = p_traced / p_plain - 1.0
    return out


def _subtree(root: dict, kids: dict) -> list[dict]:
    out, todo = [], [root]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s["id"], ()))
    return out
