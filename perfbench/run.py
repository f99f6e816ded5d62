"""Run one benchmark workload in this process and print its result.

    python3 perfbench/run.py --workload curate_stream --seed 1 --seconds 12 --trace 0

Run it from the root of a checkout. After the warm-up it times
round(seconds / the workload's nominal pass time) passes, at least two. The last line of standard output is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``.
With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` they are the per-layer ones, also written to
``.bench_work/trace-<workload>-<seed>.json``. Per-pass times go to
standard error on a line that starts with ``perfbench-passes``.
"""
import time

T_START = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_work")
WORKLOAD_NAMES = ("extract_checkpointed", "curate_stream")
# Session settings the program reads from the environment at import; the
# benchmark clears them so the program's own defaults are what it runs.
PROGRAM_ENV = ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_SHUFFLE",
               "SPARK_GRAFT_ADVISORY", "SPARK_GRAFT_MIN_PARTITION",
               "SPARK_GRAFT_DRIVER_MEM")
MAX_WARMUP_PASSES = 20      # ends a warm-up whose every pass fails
MIN_TIMED_PASSES = 2        # one pass alone spread curate_stream 17%


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    for d in (tmp, os.path.join(work, "spark-local")):
        os.makedirs(d, exist_ok=True)
    for key in PROGRAM_ENV:
        os.environ.pop(key, None)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={tmp} "
                                       "-XX:-UsePerfData")


def start_session(name: str, cores: int, event_dir):
    """A session from the program's factory with only the master pinned
    (plus the event log when tracing)."""
    from document_ai_spark.session import get_spark
    extra = None
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        extra = {"spark.eventLog.enabled": "true",
                 "spark.eventLog.dir": event_dir,
                 "spark.eventLog.compress": "false"}
    spark = get_spark(f"perfbench-{name}", master=f"local[{cores}]",
                      extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark, timeout: float = 60.0) -> None:
    """Stop Spark, end the JVM and wait for it and its Python workers."""
    from pyspark import SparkContext

    from perfbench.trace import descendants
    proc = getattr(SparkContext._gateway, "proc", None)
    pids = [proc.pid] + descendants(proc.pid) if proc else []
    spark.stop()
    if proc is None:
        return
    proc.stdin.close()          # the gateway JVM exits on EOF
    proc.wait(timeout=timeout)
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline and any(_alive(p) for p in pids):
        time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def peak_rss_mb(spark) -> float:
    """Sum of VmHWM over the driver JVM and its descendants (the Python
    workers), an upper bound on their joint peak."""
    from pyspark import SparkContext

    from perfbench.trace import descendants, peak_rss_kb
    jvm = SparkContext._gateway.proc.pid
    kb = [peak_rss_kb(p) for p in [jvm] + descendants(jvm)]
    return sum(k for k in kb if k) / 1024.0


def run(args, work: str) -> dict:
    from perfbench import inputs
    from perfbench import workloads as W
    from perfbench.trace import eventlog_metrics, job_group

    cores = len(os.sched_getaffinity(0))
    event_dir = os.path.join(work, "eventlog") if args.trace else None
    prepare_env(work)
    spark = start_session(args.workload, cores, event_dir)
    session_s = time.monotonic() - T_START
    ctx = W.Context(spark, work, args.seed, bool(args.trace), cores)
    wl = W.WORKLOADS[args.workload](ctx)
    counts = {"attempted": 0, "failed": 0, "check_failed": 0}

    def op():
        counts["attempted"] += 1
        try:
            secs, docs, errors = wl.run_pass()
        except Exception:       # noqa: BLE001 — one operation failed
            counts["failed"] += 1
            traceback.print_exc()
            return None
        if errors:
            counts["failed"] += 1
            counts["check_failed"] += 1
            print("perfbench: output check failed: " + "; ".join(errors[:5]),
                  file=sys.stderr)
        return secs, docs

    try:
        fp = wl.setup()
        inputs_s = time.monotonic() - T_START - session_s
        want = inputs.recorded_fingerprint(args.workload, args.seed)
        if want is None:
            print(f"perfbench: no recorded input fingerprint for seed "
                  f"{args.seed}; inputs unchecked", file=sys.stderr)
        elif fp != want:
            raise SystemExit(
                f"perfbench: the inputs of {args.workload} seed {args.seed} "
                f"changed (fingerprint {fp[:12]}, recorded {want[:12]}); "
                "the workload is not the one the recorded figures measure. "
                "Regenerate with perfbench/record_fingerprints.py.")
        warm, warm_times = 0, []
        with job_group(spark, "perfbench.warmup"):
            while (warm < wl.warmup_docs
                   and counts["attempted"] < MAX_WARMUP_PASSES):
                res = op()
                if res:
                    warm_times.append(res[0])
                    warm += res[1]
        setup_s = time.monotonic() - T_START
        # A fixed count, so every run does the same passes: with the JVM
        # still warming, a run that fits one pass more reports a faster
        # median.
        n_timed = max(MIN_TIMED_PASSES, round(args.seconds / wl.pass_s))
        times, docs = [], 0
        t0 = time.perf_counter()
        with job_group(spark, "perfbench.pass"):
            for _ in range(n_timed):
                res = op()
                if res:
                    times.append(res[0])
                    docs = res[1]
        wall = time.perf_counter() - t0
        if not times:
            raise SystemExit("perfbench: every timed pass failed")
        docs_per_s = docs / statistics.median(times)
        metrics = {
            "docs_per_s": docs_per_s,
            "setup_s": setup_s,
            "stored_bytes_per_input_byte": wl.stored_ratio(),
        }
        if args.trace:
            rss = peak_rss_mb(spark)      # before the probes add their own
            layers = {**wl.layer_metrics(), "peak_rss_mb": rss}
    finally:
        stop_session(spark)
    print("perfbench-passes " + json.dumps({
        "workload": args.workload, "seed": args.seed, "docs": docs,
        "session_s": session_s, "inputs_s": inputs_s,
        "warmup_s": warm_times, "timed_s": times}), file=sys.stderr)
    if args.trace:
        spark_stages = eventlog_metrics(event_dir, "perfbench.pass", wall,
                                        cores)
        metrics = {**layers, **spark_stages,
                   "trace.docs_per_s": docs_per_s}
        report_overhead(args.workload, docs_per_s)
    units = declared_units("per_layer" if args.trace else "end_to_end")
    if set(metrics) != set(units):
        diff = sorted(set(metrics) ^ set(units))
        raise SystemExit(f"perfbench: measured metrics differ from "
                         f"BENCHMARK.json: {diff}")
    result = {
        "correct": counts["check_failed"] == 0,
        "attempted": counts["attempted"],
        "failed": counts["failed"],
        "metrics": {k: {"value": metrics[k], "unit": u}
                    for k, u in units.items()},
    }
    if args.trace:
        os.makedirs(WORK, exist_ok=True)
        with open(os.path.join(
                WORK, f"trace-{args.workload}-{args.seed}.json"), "w") as f:
            json.dump(result, f, indent=1, sort_keys=True)
    return result


def report_overhead(workload: str, traced: float) -> None:
    """Print the traced docs/s beside the untraced median that the last
    steadiness report of this workload recorded."""
    path = os.path.join(WORK, f"steady-{workload}.json")
    base = None
    if os.path.exists(path):
        with open(path) as f:
            base = json.load(f)["metrics"].get("docs_per_s", {}).get("median")
    if base:
        print(f"perfbench: traced docs_per_s {traced:.2f} vs untraced "
              f"median {base:.2f}: tracing overhead "
              f"{100 * (base / traced - 1):+.1f}%", file=sys.stderr)
    else:
        print(f"perfbench: traced docs_per_s {traced:.2f}; no untraced "
              f"median recorded (run perfbench/steady.py first)",
              file=sys.stderr)


def declared_units(kind: str) -> dict:
    """Metric name -> unit of the ``kind`` metrics BENCHMARK.json declares."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "document_ai_spark")):
        print(f"perfbench: no document_ai_spark package under {ROOT}; run "
              "from the root of a checkout of the program", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
