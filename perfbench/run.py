"""Crawl benchmark: one seeded workload per run, closed loop, one caller.

    python3 perfbench/run.py --workload frontier_epoch --seed 0 --seconds 10 --trace 0

Run from the repository root. The run generates its inputs from --seed,
starts one Spark driver at local[c] with c = min(4, cpus), runs four
untimed warm-up operations, then runs operations back to back for
--seconds, checking each result. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}.

--trace 0 reports the end-to-end metrics of BENCHMARK.json; --trace 1 runs
three untraced and three traced operations in turn instead, then the
per-layer runs, and reports the per-layer metrics (spans, kernel timings, Spark event-log
counters). A per-layer metric of a layer the workload does not exercise
reads 0.

Scratch files live under .perfbench_work/ in the current directory; the
run removes its inputs when it ends and keeps the spans (spans.json).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
SHUFFLE_PARTITIONS = 8  # fixed: independent of the core count
DRIVER_MEMORY = "1g"
# checked operations before timing starts: the first pays session-wide
# one-time costs (Python workers, code generation) and ends set-up; the
# next ones run while the JVM still interprets and compiles its hot
# paths (on a 4-vCPU Xeon an operation's CPU time stops falling after
# the fourth)
WARM_UP_OPS = 4
# untraced/traced operation pairs of a traced run: the tracing overhead
# is the difference of their median walls
TRACE_PAIRS = 3


def cores() -> int:
    return min(4, len(os.sched_getaffinity(0)))


def start_spark(work: str, n_cores: int, event_log: str | None = None):
    from pyspark.sql import SparkSession
    from warctools_spark.session import engine_conf

    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    b = (
        SparkSession.builder.appName("perfbench")
        .master("local[%d]" % n_cores)
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config(
            "spark.driver.extraJavaOptions",
            "-Djava.io.tmpdir=%s -XX:-UsePerfData" % os.path.join(work, "tmp"),
        )
    )
    if event_log is not None:
        os.makedirs(event_log, exist_ok=True)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", event_log)
            .config("spark.eventLog.rolling.enabled", "false")
            .config("spark.eventLog.compress", "false")
        )
    spark = engine_conf(b, SHUFFLE_PARTITIONS).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_jvm() -> None:
    """Stop the driver JVM this process launched and wait for it to exit
    (its Python workers exit with it)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def load_metric_specs(root: str) -> tuple[dict, dict]:
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    return e2e, layer


def run_op(wl, errors: list, tracer=None) -> object | None:
    """One checked operation; None if it raised or failed its check.
    With a tracer, the operation runs inside a span `<workload>.op`."""
    from tracing import NO_TRACE

    tracer = tracer or NO_TRACE
    try:
        with tracer.span(wl.name + ".op"):
            op = wl.op(tracer)
        bad = wl.check(op.result)
    except Exception:
        errors.append(traceback.format_exc())
        return None
    if bad:
        errors.extend(bad)
        return None
    return op


def measure(wl, seconds: float, errors: list) -> tuple[dict, int, int]:
    from tracing import steal_share

    attempted, ops = 0, []
    steal0 = steal_share()
    deadline = time.perf_counter() + seconds
    while attempted == 0 or time.perf_counter() < deadline:
        attempted += 1
        op = run_op(wl, errors)
        if op is not None:
            ops.append(op)
    steal1 = steal_share()
    if not ops:
        return {}, attempted, attempted
    return (
        {
            "items_per_s": statistics.median(op.items / op.wall for op in ops),  # stderr only
            "cpu_us_per_item": statistics.median(op.cpu / op.items * 1e6 for op in ops),
            "walls": [op.wall for op in ops],
            "cpus": [op.cpu for op in ops],
            "steal": (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1),
        },
        attempted,
        attempted - len(ops),
    )


def traced_run(wl, spark, work: str, n_cores: int, errors: list) -> tuple[dict, int, int]:
    """Untraced and traced operations in turn (the same checked operation,
    with spans on or off), then the workload's layer runs, the kernel
    timings, the engine counters of the last traced operation's jobs and,
    on frontier_epoch, a single-core baseline of the same epoch."""
    from tracing import Tracer, read_event_log, session_counters
    from workloads import executor_memo_ratios

    tracer = Tracer(spark.sparkContext)
    pairs = [(run_op(wl, errors), run_op(wl, errors, tracer)) for _ in range(TRACE_PAIRS)]
    memo = executor_memo_ratios(spark)  # of every operation so far
    untraced = [u.wall for u, _ in pairs if u is not None]
    traced = [t.wall for _, t in pairs if t is not None]
    m = {}
    if untraced and traced:
        m["trace.untraced_op_s"] = statistics.median(untraced)
        m["trace.traced_op_s"] = statistics.median(traced)
        m["trace.overhead_s"] = m["trace.traced_op_s"] - m["trace.untraced_op_s"]
    try:
        layers, ok = wl.layers(tracer)
        m.update(layers)
    except Exception:
        errors.append(traceback.format_exc())
        ok = False
    if not ok:
        errors.append("layer runs: row counts differ from the generator's")
    attempted = 2 * TRACE_PAIRS + 1
    failed = attempted - len(untraced) - len(traced) - ok
    m.update(wl.kernels())
    m.update(memo)
    tracer.dump(os.path.join(work, "spans.json"))
    spark.stop()  # flushes the event log
    if not traced:
        return m, attempted, failed
    events = read_event_log(os.path.join(work, "eventlog"))
    top = tracer.last(wl.name + ".op")
    c = session_counters(events, tracer.ids_under(top))
    m.update(("session." + k, v) for k, v in c.items() if k != "run_s")
    if wl.name == "frontier_epoch" and untraced:
        # kernel time the harvest prefix should contain, as a share of
        # its executor run time (the rest is Arrow, worker and JVM work)
        h = session_counters(
            events, tracer.ids_under(tracer.last("noop_prefix.harvest_canonicalized")))
        decode = statistics.mean(
            v for k, v in m.items() if k.startswith("kernels.http_decode.")
        )
        kern_us = (decode + m["kernels.links.us_per_page"]) * wl.N_PAGES + m[
            "kernels.canon.us_per_link"
        ] * m.get("operators.frontier.links_out", 0)
        m["functions.kernel_share"] = kern_us / 1e6 / h["run_s"] if h["run_s"] else 0.0
        # single-core baseline of the same epoch, for N -> 4N scaling
        spark1 = start_spark(work, 1)
        try:
            wl.prepare(spark1)
            warm, one = run_op(wl, errors), run_op(wl, errors)
        finally:
            spark1.stop()
        attempted += 2
        failed += (warm is None) + (one is None)
        if one is not None:
            m["session.scaling_efficiency_1_to_c"] = one.wall / (
                n_cores * m["trace.untraced_op_s"])
    return m, attempted, failed


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    sys.path[:0] = [HERE, root]
    try:
        import pyspark  # noqa: F401
        import warctools_spark  # noqa: F401
    except ImportError as e:
        print("perfbench: the program is not importable here: %s" % e, file=sys.stderr)
        return 2
    from tracing import RssSampler
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print("perfbench: unknown workload %r (have %s)" % (args.workload, ", ".join(WORKLOADS)),
              file=sys.stderr)
        return 2
    e2e_units, layer_units = load_metric_specs(root)

    work = os.path.join(root, ".perfbench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    n_cores = cores()
    wl = WORKLOADS[args.workload](args.seed, work)
    errors: list = []

    # set-up: inputs and expected answers, session start and the first
    # (cold) operation; then the untimed operations that let the JIT settle
    t = time.perf_counter()
    wl.generate()
    t_gen = time.perf_counter() - t
    with RssSampler() as rss:
        spark = start_spark(
            work, n_cores, os.path.join(work, "eventlog") if args.trace else None
        )
        try:
            wl.prepare(spark)
            t_session = time.perf_counter() - t - t_gen
            warm = [run_op(wl, errors)]
            setup_s = time.perf_counter() - t
            warm += [run_op(wl, errors) for _ in range(WARM_UP_OPS - 1)]
            print("perfbench: set-up %.2f s: generate %.2f s, session %.2f s, first op %.2f s;"
                  " warm-up %.2f s" % (setup_s, t_gen, t_session, setup_s - t_gen - t_session,
                                       time.perf_counter() - t - setup_s), file=sys.stderr)
            if any(w is None for w in warm):
                values, attempted = {}, len(warm)
                failed = sum(w is None for w in warm)
            elif args.trace:
                values, attempted, failed = traced_run(wl, spark, work, n_cores, errors)
            else:
                res, attempted, failed = measure(wl, args.seconds, errors)
                values = {
                    "setup_s": setup_s,
                    "cpu_us_per_item": res.get("cpu_us_per_item", 0.0),
                }
                print("perfbench: %s %.1f %s/s, %.1f cpu us each, steal %.2f, op walls %s s,"
                      " cpu %s s" % (wl.name, res.get("items_per_s", 0.0), wl.unit,
                                     values["cpu_us_per_item"], res.get("steal", 0.0),
                         " ".join("%.2f" % w for w in res.get("walls", ())),
                         " ".join("%.2f" % w for w in res.get("cpus", ()))),
                      file=sys.stderr)
        finally:
            spark.stop()
            shutdown_jvm()
    values["session.peak_rss_mb" if args.trace else "peak_rss_mb"] = rss.peak_mb
    for name in os.listdir(work):
        if name != "spans.json":
            shutil.rmtree(os.path.join(work, name), ignore_errors=True)

    for e in errors:
        print("perfbench: %s" % e, file=sys.stderr)
    units = layer_units if args.trace else e2e_units
    metrics = {n: {"value": float(values.get(n, 0.0)), "unit": u} for n, u in units.items()}
    print(json.dumps({
        "correct": not errors and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
