"""Service benchmark: one workload per run, one client, ``local[4]``.

    python3 svcbench/run.py --workload serve_routes --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Everything a run writes stays under
``.svcbench_work/``: its working files (removed at the end), the cached
app tables and the traces of traced runs. The closed loop runs
whole passes of the workload's fixed operation sequence until
``--seconds`` have elapsed; every result is checked against an
independent restatement after the loop. The last stdout line is the
result JSON; the line before it names each metric as the service's
users see it. ``--trace 1`` adds spans, job groups and Spark's event log
and reports per-layer metrics instead of end-to-end ones.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
PACKAGE = "udata_datalake_service_spark"
MASTER = "local[4]"
SHUFFLE_PARTITIONS = 8
SETUP_REPS = 2  # the first set-up pays the JIT warm-up of the write path


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--break-oracle", action="store_true",
                   help="perturb one expected value per check; the run must fail")
    return p.parse_args(argv)


def _process_env(root: str, work: str) -> None:
    """Everything the run writes stays under ``work``; Spark's Python
    workers import the package from ``root``."""
    for d in ("tmp", "spark-local", "warehouse", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root, os.path.dirname(HERE)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # spark-submit's launcher JVM: no hsperfdata file in /tmp either
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = "4"
    sys.path[:0] = [root, os.path.dirname(HERE)]


class Ctx:
    def __init__(self, spark, tracer, work, cache, seed):
        self.spark, self.tracer, self.seed = spark, tracer, seed
        self.work, self.cache = work, cache


def _start_session(work: str, trace: bool):
    from udata_datalake_service_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # temp files in the work dir; no hsperfdata file, which HotSpot
        # always writes to /tmp
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    t0 = time.perf_counter()
    spark = get_spark(app_name="svcbench", master=MASTER,
                      shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf)
    return spark, time.perf_counter() - t0


def _stop(spark) -> None:
    """Stop Spark, then end the driver JVM and wait for it; its Python
    workers exit with it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — never leave it running
            proc.kill()
            proc.wait()


def _loop(wl, seconds: float, traced_run: bool):
    """Whole passes until ``seconds`` elapse, at least ``wl.min_passes``
    of them, so that a slow host does not shrink the sample. A traced run
    traces the operations that ``wl.trace_pattern`` marks and ends on a
    multiple of ``wl.trace_period``, where traced and untraced operations
    are the same mix and a session still speeding up biases neither."""
    lat = {False: [], True: []}
    items, records, errors = 0, [], []
    i = passes = 0
    t_start = time.perf_counter()
    while True:
        passes += 1
        for _ in range(wl.pass_len):
            traced = traced_run and wl.trace_pattern[i % len(wl.trace_pattern)]
            wl.tracer.enabled = traced
            t0 = time.perf_counter()
            try:
                n, rec = wl.op(i)
            except Exception as e:  # noqa: BLE001 — a failed operation is a result
                errors.append(f"op {i}: {type(e).__name__}: {str(e)[:300]}")
                n, rec = 0, None
            lat[traced].append(time.perf_counter() - t0)
            if not traced:
                items += n
            if rec is not None:
                records.append(rec)
            i += 1
        if time.perf_counter() - t_start >= seconds and passes >= wl.min_passes and (
                not traced_run or i % wl.trace_period == 0):
            break
    wl.tracer.enabled = False
    return lat, items, records, errors


def _log(msg: str) -> None:
    print(f"svcbench: {msg}", file=sys.stderr, flush=True)


def run(args) -> dict:
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, PACKAGE)):
        raise SystemExit(f"svcbench: no {PACKAGE}/ in {root}; run from the repo root")
    cache = os.path.join(root, ".svcbench_work")
    work = os.path.join(cache, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _process_env(root, work)
    try:
        return _measure(args, work, cache)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _measure(args, work: str, cache: str) -> dict:
    import statistics

    from svcbench import harness, oracles
    from svcbench.workloads import PER_LAYER, WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"svcbench: unknown workload {args.workload!r}; "
                         f"one of {sorted(WORKLOADS)}")
    oracles.BREAK = args.break_oracle
    trace = bool(args.trace)

    spark = None
    try:
        spark, session_s = _start_session(work, trace)
        tracer = harness.Tracer(spark, active=trace)
        wl = WORKLOADS[args.workload](Ctx(spark, tracer, work, cache, args.seed))
        t0 = time.perf_counter()
        sizes = wl.prepare()
        gen_s = time.perf_counter() - t0
        _log(f"session {session_s:.1f}s, inputs {gen_s:.1f}s")
        fixtures = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            wl.setup()
            fixtures.append(time.perf_counter() - t0)
            _log(f"setup {fixtures[-1]:.1f}s")
        t0 = time.perf_counter()
        wl.warm()
        warm_s = time.perf_counter() - t0
        _log(f"warm {warm_s:.1f}s")
        t0, cpu0, gc0 = time.perf_counter(), harness.tree_cpu_s(), harness.jvm_gc_ms(spark)
        lat, items, records, errors = _loop(wl, args.seconds, trace)
        loop_s, loop_cpu_s = time.perf_counter() - t0, harness.tree_cpu_s() - cpu0
        loop_gc_ms = harness.jvm_gc_ms(spark) - gc0
        _log(f"loop {loop_s:.1f}s, {len(lat[False]) + len(lat[True])} ops")
        if trace:
            t0 = time.perf_counter()
            wl.trace_only()
            _log(f"trace-only calls {time.perf_counter() - t0:.1f}s")
        peak_rss = harness.driver_peak_rss_mb(spark)
        heap_live = harness.driver_heap_live_mb(spark)
        heap_max = spark._jvm.java.lang.Runtime.getRuntime().maxMemory() / 2**20
        t0 = time.perf_counter()
        warm_records = getattr(wl, "warm_records", [])
        attempted_chk, failed_chk, notes = wl.check(warm_records + records)
        check_s = time.perf_counter() - t0
        _log(f"check {check_s:.1f}s: {failed_chk}/{attempted_chk} failed {notes}")
        app_id = spark.sparkContext.applicationId
    finally:
        if spark is not None:
            _stop(spark)

    untraced = lat[False]
    n_ops = len(untraced) + len(lat[True])
    # operations and correctness checks both count
    attempted = n_ops + attempted_chk
    failed = len(errors) + failed_chk
    setup_s = session_s + statistics.median(fixtures)
    out = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "ops": n_ops, "op_errors": errors[:3], "check": {
            "attempted": attempted_chk, "failed": failed_chk, "notes": notes},
        "phases_s": {"session": session_s, "generate": gen_s, "setup": fixtures,
                     "warm": warm_s, "loop": loop_s, "check": check_s},
        "inputs": sizes,
        # in-memory size of the inputs against the driver's max heap
        "working_set_pct_of_heap": 100 * sum(
            v.get("arrow_bytes", v["bytes"]) for v in sizes.values()) / 2**20 / heap_max,
    }
    if not trace:
        p50 = harness.quantile(untraced, 0.5) * 1e3
        p95 = harness.quantile(untraced, 0.95) * 1e3
        per_s = items / sum(untraced)
        metrics = {"op_p50_ms": (p50, "ms"), "setup_s": (setup_s, "s")}
        out["op_latencies_ms"] = [x * 1e3 for x in untraced]
        named = wl.named(p50, p95, per_s) | {
            "setup_s": (setup_s, "s"),
            "cpu_ms_per_op": (loop_cpu_s / len(untraced) * 1e3, "ms"),
            "failed_ratio": (failed / attempted, "ratio"),
            "peak_rss_mb": (peak_rss, "MB"),
            "heap_live_mb": (heap_live, "MB"),
            "samples": (len(untraced), "count"),
        }
        out["named"] = {k: {"value": v, "unit": u} for k, (v, u) in named.items()}
    else:
        log = os.path.join(work, "eventlog", app_id)
        groups = harness.reduce_event_log(log)
        # both halves hold the same mix of operations (see _loop), so their
        # mean times compare like for like; a median of a mixed pass does not
        traced_ms = statistics.mean(lat[True]) * 1e3
        untraced_ms = statistics.mean(untraced) * 1e3
        overhead = (traced_ms / untraced_ms - 1) * 100
        layers = wl.layers(groups) | {
            "session.start_s": session_s,
            "setup.fixtures_s": statistics.median(fixtures),
            "trace.overhead_pct": overhead,
            "trace.overhead_ms": traced_ms - untraced_ms,
            "mem.peak_rss_mb": peak_rss,
            "mem.heap_live_mb": heap_live,
            "mem.gc_ms_per_op": loop_gc_ms / n_ops,
        }
        metrics = {name: (layers.get(name, 0.0), unit) for name, unit in PER_LAYER.items()}
        out["layers"] = layers
        trace_dir = os.path.join(cache, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        tracer.write(os.path.join(trace_dir, f"{args.workload}-{args.seed}.spans.jsonl"))
        with open(os.path.join(trace_dir, f"{args.workload}-{args.seed}.layers.json"), "w") as fh:
            json.dump(out, fh, indent=1, default=str)
    result = {
        "correct": failed == 0 and attempted_chk > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(out, default=str))
    return result


def main(argv=None) -> int:
    args = _args(argv if argv is not None else sys.argv[1:])
    try:
        result = run(args)
    except Exception:  # noqa: BLE001 — no result line on a harness failure
        traceback.print_exc()
        return 1
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
