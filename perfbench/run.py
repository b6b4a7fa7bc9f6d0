#!/usr/bin/env python3
"""Benchmark of the ETL/dashboard engine on ``local[<cores>]``.

    python3 perfbench/run.py --workload {vehicle_etl,dashboard_mix,llm_curation}
                             --seed N --seconds S --trace {0,1} [--tiny]

Run from the root of a checkout. One process, one client, closed loop: it
sets up the SparkSession through ``session.get_spark`` in a fresh JVM,
generates the workload's inputs from ``--seed``, runs one cold pass, gates
its outputs for correctness, then runs warm passes sized to last about
``--seconds``.

It prints one line per metric (name, value, unit), a provenance record,
and as its last line one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The traced run
alternates untraced and traced passes, enables Spark's event log for the
run, and reports the difference of their medians as the tracing overhead.
It exits 1 when an operation raises or a correctness gate fails, and 2
without a result when the repository is not beside it.

``--tiny`` shrinks every input (sf0.001, one copy of the vehicle sheet)
for the self-tests in ``perfbench/test_perfbench.py``.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import random  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "etl_dashboard_project_1_spark"
WORKLOAD_NAMES = ("vehicle_etl", "dashboard_mix", "llm_curation")
TAIL_BEYOND = 10
PROCESS_EXIT_S = 3.0


def metric_units() -> dict[str, str]:
    """Name -> unit of every metric, as ``BENCHMARK.json`` declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    return {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    p.add_argument("--tiny", action="store_true", help="smallest inputs (self-tests)")
    return p.parse_args(argv)


def tail_percentile(samples: list[float]) -> tuple[int, float]:
    """Highest integer percentile with at least TAIL_BEYOND samples above
    it (nearest rank), never below the median."""
    n = len(samples)
    pct = max(50, math.floor(100 * (n - TAIL_BEYOND) / n))
    if pct == 50:
        return pct, statistics.median(samples)
    return pct, sorted(samples)[math.ceil(pct / 100 * n) - 1]


def configure_environment(work: str, trace: bool) -> str:
    """Keep every file Spark and Python write inside ``work``; enable the
    event log for traced runs. Returns the event-log directory."""
    tmp, local, evlog = (os.path.join(work, d) for d in ("tmp", "spark-local", "eventlog"))
    for d in (tmp, local, evlog):
        os.makedirs(d)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    conf = {
        "spark.ui.showConsoleProgress": "false",
        # no hsperfdata files in the system temp directory
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + evlog,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    args = [a for k, v in conf.items() for a in ("--conf", f"{k}={v}")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(shlex.quote(a) for a in args + ["pyspark-shell"])
    return evlog


def start_session(app_name: str, cores: int):
    from etl_dashboard_project_1_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name=app_name, cpus=cores)
    elapsed = time.perf_counter() - t0
    # localCheckpoint-using operators race the ContextCleaner, and the
    # DAGScheduler logs each harmless "attempted to access non-existent
    # accumulator" with a stack trace; silence that one logger in this
    # process only. A failed job still raises on the Python side.
    spark.sparkContext.setLogLevel("ERROR")
    jvm = spark.sparkContext._jvm
    jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.scheduler.DAGScheduler", jvm.org.apache.logging.log4j.Level.FATAL
    )
    return spark, elapsed


def _children(pid: int) -> list[int]:
    kids = []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat", encoding="ascii", errors="replace") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            if ppid == pid:
                kids.append(int(entry))
    return kids


def _descendants(pid: int) -> list[int]:
    found, todo = [], [pid]
    while todo:
        kids = _children(todo.pop())
        found += kids
        todo += kids
    return found


def _wait_gone(pid: int, timeout: float) -> None:
    deadline = time.monotonic() + timeout
    while os.path.exists(f"/proc/{pid}"):
        if time.monotonic() > deadline:
            with contextlib.suppress(ProcessLookupError):
                os.kill(pid, signal.SIGKILL)
            deadline = time.monotonic() + timeout
        time.sleep(0.05)


def stop_session(spark) -> None:
    """Stop the session, its JVM and the Python workers the JVM forked, and
    wait until all of them have exited."""
    from pyspark import SparkContext

    spark.stop()  # also closes the event log
    gateway = SparkContext._gateway
    proc = gateway.proc
    workers = _descendants(proc.pid)
    gateway.shutdown()
    # The JVM's exit hooks only delete scratch files, which the benchmark
    # removes itself, and they can take seconds after a long run.
    proc.kill()
    proc.wait()
    for pid in workers:
        _wait_gone(pid, PROCESS_EXIT_S)


def run_pass(spark, wl, order, tag, tracer, failures):
    """One pass; returns (wall s, [(op, latency s)], outputs of ops that ran)."""
    from spans import PASS_PROPERTY

    sc = spark.sparkContext
    sc.setLocalProperty(PASS_PROPERTY, tag)
    if tracer is not None:
        tracer.pass_id = tag
    latencies, outputs = [], {}
    t0 = time.perf_counter()
    for name in order:
        t = time.perf_counter()
        try:
            outputs[name] = wl.run_op(spark, name, tracer)
        except Exception:
            failures.append(f"{tag}/{name}: {traceback.format_exc()}")
            continue
        latencies.append((name, time.perf_counter() - t))
    wall = time.perf_counter() - t0
    sc.setLocalProperty(PASS_PROPERTY, None)
    wl.after_pass(spark)
    return wall, latencies, outputs


def drive(spark, wl, seed, seconds, tracer):
    rng = random.Random(seed)
    failures: list[str] = []
    gates: list[tuple[str, bool, str]] = []

    def order():
        return rng.sample(wl.op_names, len(wl.op_names))

    cold_s, _, outputs = run_pass(spark, wl, order(), "cold", None, failures)
    t_gates = time.perf_counter()
    for name, out in outputs.items():
        t = time.perf_counter()
        try:
            ok, detail = wl.gate(spark, name, out)
        except Exception:
            ok, detail = False, traceback.format_exc()
        gates.append((name, ok, f"{detail} [{time.perf_counter() - t:.2f} s]"))
        if not ok:
            failures.append(f"gate/{name}: {detail}")
    gate_s = time.perf_counter() - t_gates

    n = wl.passes(seconds)
    warm_walls, latencies, traced_walls = {}, [], []
    for i in range(max(1, n // 2) if tracer is not None else n):
        tag = f"warm-{i}"
        wall, lat, _ = run_pass(spark, wl, order(), tag, None, failures)
        warm_walls[tag] = wall
        latencies += lat
        if tracer is not None:
            wall, _, _ = run_pass(spark, wl, order(), f"traced-{i}", tracer, failures)
            traced_walls.append(wall)
    attempted = len(wl.op_names) * (1 + len(warm_walls) + len(traced_walls))
    return {
        "cold_s": cold_s,
        "gate_s": gate_s,
        "warm_walls": warm_walls,
        "traced_walls": traced_walls,
        "latencies": latencies,
        "gates": gates,
        "failures": failures,
        "attempted": attempted,
        "failed": len(failures),
    }


def _terminate(signum, _frame):
    raise SystemExit(128 + signum)  # unwind, so the JVM is stopped and waited for


def main(argv=None) -> int:
    args = parse_args(argv)
    signal.signal(signal.SIGTERM, _terminate)
    if not (os.path.isdir(os.path.join(ROOT, PACKAGE))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
            and os.path.isfile(os.path.join(ROOT, "tests", "oracle_harness.py"))):
        print(f"perfbench: {PACKAGE} not found next to {HERE}; run from a checkout",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))  # only when no other run is using it


def run(args, work: str) -> int:
    trace = bool(args.trace)
    evlog = configure_environment(work, trace)
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tests"), HERE]
    import pyspark  # noqa: F401

    import workloads
    from spans import Tracer, event_log_metrics, peak_rss_mb

    import_s = time.perf_counter() - T_START
    cores = len(os.sched_getaffinity(0))
    scale = workloads.TINY if args.tiny else workloads.FULL
    wl = workloads.WORKLOADS[args.workload](work, args.seed, scale, trace)

    # set-up first, so that it is timed the same way for every workload
    spark, session_s = start_session(f"perfbench-{args.workload}", cores)
    try:
        t_inputs = time.perf_counter()
        inputs = wl.prepare()
        gen_s = time.perf_counter() - t_inputs
        sc = spark.sparkContext
        provenance = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "master": sc.master,
            "default_parallelism": sc.defaultParallelism,
            "nproc": cores,
            "pyspark": pyspark.__version__,
            "spark": spark.version,
            "java": sc._jvm.System.getProperty("java.version"),
            "python": platform.python_version(),
            "inputs": inputs,
        }
        wl.bind(spark)
        tracer = Tracer() if trace else None
        result = drive(spark, wl, args.seed, args.seconds, tracer)
        rss = {"driver": peak_rss_mb(os.getpid()), "jvm": peak_rss_mb(sc._gateway.proc.pid)}
        peak_rss = rss["driver"] + rss["jvm"]
    finally:
        t_stop = time.perf_counter()
        stop_session(spark)
        stop_s = time.perf_counter() - t_stop

    attempted, failed = result["attempted"], result["failed"]
    failed_ratio = failed / attempted
    warm = list(result["warm_walls"].values())
    lat = [t for _, t in result["latencies"]]
    by_op: dict[str, list[float]] = {}
    for name, t in result["latencies"]:
        by_op.setdefault(name, []).append(t)
    tail_pct, tail_s = tail_percentile(lat)
    provenance.update({
        "warm_passes_s": warm,
        "query_samples": len(lat),
        "query_tail_percentile": tail_pct,
        "op_median_s": {k: statistics.median(v) for k, v in sorted(by_op.items())},
        "peak_rss_mb": rss,
        "phases_s": {
            "import": import_s, "inputs": gen_s, "session": session_s, "cold": result["cold_s"],
            "gates": result["gate_s"], "warm": sum(warm), "traced": sum(result["traced_walls"]),
            "stop": stop_s, "total": time.perf_counter() - T_START,
        },
        "gates": [{"name": n, "ok": ok, "detail": d} for n, ok, d in result["gates"]],
    })
    if trace:
        overhead = statistics.median(result["traced_walls"]) - statistics.median(warm)
        metrics = workloads.layer_metrics(
            tracer, event_log_metrics(evlog), session_s, cores, result["warm_walls"],
            overhead, failed_ratio,
        )
        metrics["peak_rss_mb"] = peak_rss
        print(f"{'span':40s} {'count':>5s} {'total_s':>9s} {'self_s':>9s}")
        for name, count, total, self_s in tracer.span_table():
            print(f"{name:40s} {count:5d} {total:9.4f} {self_s:9.4f}")
    else:
        metrics = {
            "setup_s": import_s + session_s,
            "cold_run_s": result["cold_s"],
            "run_s": statistics.median(warm),
            "query_p50_s": statistics.median(lat),
            "query_tail_s": tail_s,
        }
    units = metric_units()
    for name, value in metrics.items():
        print(f"{name:40s} {value:16.6f} {units[name]}")
    if not trace:
        print(f"{'peak_rss_mb':40s} {peak_rss:16.6f} {units['peak_rss_mb']}")
        print(f"{'failed_ratio':40s} {failed_ratio:16.6f} {units['failed_ratio']}"
              f"  ({failed}/{attempted})")
    print(f"query_tail_s is p{tail_pct} of {len(lat)} warm operation latencies")
    for f in result["failures"]:
        print(f"FAILED {f}", file=sys.stderr)
    print("provenance " + json.dumps(provenance, sort_keys=True))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
