#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. It starts one Spark session (local[2]),
sets the workload up, runs its operations back to back for ``--seconds`` of
measured time, checks every answer against an exact oracle, stops Spark and
prints, as its last stdout line, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` gives the
end-to-end metrics; ``--trace 1`` runs half the time untraced and half
traced and gives the per-layer metrics. The line before it is a report
with the per-workload metrics named in README.md.

Everything the run writes lives under ``.perfbench_runs/`` in the checkout
and is removed on exit; a traced run leaves its spans in
``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time

T_START = time.perf_counter()
# run as a script, so perfbench/ is already on sys.path
from ledger import cpu_ticks, steal_share  # noqa: E402
CPU_START = cpu_ticks()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEM = "4g"
# Spark task threads and shuffle partitions. Two leave a core each for the
# driver Python and the Python workers, so a 4-core host is not
# oversubscribed and the timings follow the program, not the scheduler.
CORES = min(2, os.cpu_count() or 1)

E2E_UNITS = {"setup_s": "s", "op_p50_nosteal_ms": "ms",
             "driver_peak_rss_mb": "MB"}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["build", "serve"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input-size multiplier (the self-test uses a "
                         "small one)")
    return ap.parse_args(argv)


def prepare_env(run_dir: str) -> None:
    """Keep every file Spark and its workers write inside ``run_dir``,
    and let the Python workers import the engine from the checkout."""
    local, tmp = os.path.join(run_dir, "local"), os.path.join(run_dir, "tmp")
    shutil.rmtree(run_dir, ignore_errors=True)    # left by a killed run
    os.makedirs(local)
    os.makedirs(tmp)
    prev = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + prev if prev else "")
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--driver-java-options", shlex.quote(java_opts),
        "--conf", shlex.quote(
            f"spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}"),
        "pyspark-shell"])


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait until every process this
    run started (the JVM and its Python workers) has exited."""
    from pyspark import SparkContext
    from ledger import descendants
    kids = descendants()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        if spark is not None:
            spark.stop()
    finally:
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            proc.stdin.close()          # the gateway JVM exits on EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
        _wait_gone(kids)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read()
    except OSError:
        return False
    return raw[raw.rfind(b")") + 2:][:1] != b"Z"


def _wait_gone(pids, timeout: float = 30.0) -> None:
    deadline = time.time() + timeout
    while time.time() < deadline:
        if not any(_alive(p) for p in pids):
            return
        time.sleep(0.1)
    for p in pids:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass
    deadline = time.time() + 10
    while time.time() < deadline and any(_alive(p) for p in pids):
        time.sleep(0.1)


class Context:
    def __init__(self, args, spark, run_dir):
        from ledger import Tracer
        self.seed = args.seed
        self.scale = args.scale
        self.spark = spark
        self.sc = spark.sparkContext
        self.run_dir = run_dir
        self.tracer = Tracer(self.sc)
        self.engine = None


def run_loop(wl, ctx, seconds: float, traced: bool) -> list:
    """Closed loop, one client: ops back to back for about ``seconds`` of
    operation time. At least one op; no new op once the last one, taken
    as the next one's length, would end more than half past the window;
    a hard stop at 3x ``seconds`` of real time, oracle checks included.
    Each op records the host's steal share over its run."""
    from workloads import Op
    ops, spent = [], 0.0
    t_loop = time.perf_counter()
    while not ops or (spent + ops[-1].wall_s / 2 < seconds
                      and time.perf_counter() - t_loop < 3 * seconds):
        cpu0 = cpu_ticks()
        t0 = time.perf_counter()
        try:
            op = wl.op(ctx, traced)
        except Exception as e:          # count it as failed and go on
            op = Op(time.perf_counter() - t0, 0.0, 0, False,
                    f"{type(e).__name__}: {e}")
        op.steal = steal_share(cpu0, cpu_ticks())
        ops.append(op)
        spent += op.wall_s
    return ops


def median(xs):
    return float(statistics.median(xs)) if xs else 0.0


def tail(values_s: list) -> dict:
    """Highest of p50/p75/p90/p95/p99 with at least ten samples beyond
    it; ``value_ms`` is None when the run has too few samples."""
    n = len(values_s)
    best = None
    xs = sorted(values_s)
    for p in (50, 75, 90, 95, 99):
        rank = -(-n * p // 100)                # ceil(n * p / 100)
        if n - rank >= 10:
            best = (p, xs[rank - 1])
    return {"pct": best[0] if best else None,
            "value_ms": best[1] * 1e3 if best else None, "samples": n}


def e2e_metrics(ops, setup_wall_s: float, setup_steal: float) -> dict:
    """The gated metrics. Times are net of hypervisor steal (see
    README.md); the report line also carries them as measured."""
    from ledger import peak_rss_mb
    good = [o for o in ops if o.ok] or ops
    return {
        "setup_s": setup_wall_s * (1.0 - setup_steal),
        "op_p50_nosteal_ms": median([o.unstolen_s for o in good]) * 1e3,
        "driver_peak_rss_mb": peak_rss_mb(),
    }


def workload_report(name: str, ops, e2e: dict) -> dict:
    """The end-to-end metrics under the names README.md gives per
    workload, with units."""
    good = [o for o in ops if o.ok] or ops
    walls = [o.wall_s for o in good]
    rep = {"setup_s": (e2e["setup_s"], "s"),
           "op_p50_nosteal_ms": (e2e["op_p50_nosteal_ms"], "ms"),
           "op_steal_share": (median([o.steal for o in good]), "ratio"),
           "failed_frac": (sum(not o.ok for o in ops) / len(ops), "ratio"),
           "cpu_s_per_op": (median([o.cpu_s for o in good]), "s"),
           "driver_peak_rss_mb": (e2e["driver_peak_rss_mb"], "MB")}
    if name == "build":
        rep["build_rows_per_s"] = (good[0].work / median(walls), "rows/s")
    elif name == "serve":
        rep["serve_qps"] = (sum(o.work for o in good) / sum(walls),
                            "queries/s")
        rep["batch_p50_ms"] = (median(walls) * 1e3, "ms")
        t = tail(walls)
        rep["batch_tail_ms"] = (t["value_ms"], "ms")
        rep["batch_tail_pct"] = (t["pct"], "percentile")
        rep["batch_samples"] = (t["samples"], "count")
    return {k: {"value": v, "unit": u} for k, (v, u) in rep.items()}


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    try:
        import spatialsketch_spark.config  # noqa: F401  (engine present?)
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    from ledger import host_counters, host_delta
    from workloads import WORKLOADS, kernel_sample
    from layers import layer_metrics, PER_LAYER

    run_dir = os.path.join(ROOT, ".perfbench_runs",
                           f"{args.workload}-s{args.seed}-{os.getpid()}")
    # a terminated run still stops Spark and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    prepare_env(run_dir)
    spark = None
    try:
        from spatialsketch_spark.config import get_spark
        spark = get_spark("perfbench", cpus=CORES, shuffle_partitions=CORES)
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - T_START
        ctx = Context(args, spark, run_dir)
        wl = WORKLOADS[args.workload](ctx)
        wl.setup(ctx)
        setup_s = time.perf_counter() - T_START
        setup_steal = steal_share(CPU_START, cpu_ticks())

        host0 = host_counters()
        if args.trace:
            plain = run_loop(wl, ctx, args.seconds / 2, traced=False)
            traced = run_loop(wl, ctx, args.seconds / 2, traced=True)
            ops = plain + traced
        else:
            ops = run_loop(wl, ctx, args.seconds, traced=False)
        host = host_delta(host0, host_counters())
        e2e = e2e_metrics(ops, setup_s, setup_steal)
        extras = []
        if args.trace:
            try:
                extras = wl.traced_extras(ctx)
            except Exception as e:      # a side sample that raised failed
                extras = [f"{type(e).__name__}: {e}"]
            kern = kernel_sample(wl.cfg, wl.min_level, wl.oracle.ev[0])
    finally:
        # also when stopped while the session was still starting
        stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass

    extra_errors = [e for e in extras if e]
    failed = sum(not o.ok for o in ops) + len(extra_errors)
    report = {"workload": args.workload, "seed": args.seed,
              "ops": len(ops), "session_start_s": session_s,
              "setup_wall_s": setup_s, "setup_steal_share": setup_steal,
              "op_p50_wall_ms": median([o.wall_s for o in ops]) * 1e3,
              "host": host,
              "errors": sorted({o.error for o in ops if o.error}
                               | set(extra_errors))[:5],
              "op_walls_s": [round(o.wall_s, 4) for o in ops],
              "op_steal_shares": [round(o.steal, 3) for o in ops],
              "metrics": workload_report(args.workload, ops, e2e)}
    if args.trace:
        spans = ctx.tracer.records()
        metrics = layer_metrics(plain, traced, spans, kern)
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir,
                            f"trace-{args.workload}-s{args.seed}.json")
        with open(path, "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "spans": spans, "metrics": metrics}, f, indent=1)
        report["trace_file"] = os.path.relpath(path, ROOT)
        out = {k: {"value": metrics[k], "unit": u}
               for k, u in PER_LAYER.items()}
    else:
        out = {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
    print(json.dumps({"report": report}))
    print(json.dumps({"correct": failed == 0,
                      "attempted": len(ops) + len(extras),
                      "failed": failed, "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
