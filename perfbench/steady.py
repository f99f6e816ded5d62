"""Steadiness report: run one workload k times in fresh processes.

    python3 perfbench/steady.py --workload curate_stream [--runs 10] [--first-seed 1]

Each run gets its own seed (first-seed, first-seed+1, ...). The report
prints, per end-to-end metric, the median, the quartiles and their
distance as a share of the median beside the metric's bound in
BENCHMARK.json; then every run's wall time and per-pass times, with the
drift of its timed passes (least-squares slope times the number of steps,
over the median) next to their spread ((max - min) / median), and how
many runs drift down. With two timed passes a run's drift and spread
have the same size, so only the count across runs shows a trend. The summary is also
written to ``.bench_work/steady-<workload>.json``, where a traced run
finds the untraced median to report its overhead against.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def quartiles(values):
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def trend(times):
    """(drift, spread) of one run's timed passes, as shares of their
    median: the least-squares line's rise from first to last pass, and
    max - min."""
    n = len(times)
    if n < 2:
        return 0.0, 0.0
    med = statistics.median(times)
    xm, ym = (n - 1) / 2, statistics.mean(times)
    slope = (sum((i - xm) * (t - ym) for i, t in enumerate(times))
             / sum((i - xm) ** 2 for i in range(n)))
    return slope * (n - 1) / med, (max(times) - min(times)) / med


def one_run(workload, seed, seconds):
    t0 = time.monotonic()
    proc = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"),
         "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    passes = None
    for line in proc.stderr.splitlines():
        if "perfbench-passes " in line:
            passes = json.loads(line.split("perfbench-passes ", 1)[1])
    if proc.returncode != 0 or passes is None:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"run with seed {seed} failed "
                         f"(exit {proc.returncode})")
    passes["wall_s"] = time.monotonic() - t0
    return json.loads(proc.stdout.strip().splitlines()[-1]), passes


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    args = p.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    results, passes = [], []
    for i in range(args.runs):
        seed = args.first_seed + i
        res, ps = one_run(args.workload, seed, bench["run_seconds"])
        results.append(res)
        passes.append(ps)
        print(f"run {i + 1}/{args.runs} seed {seed}: " + ", ".join(
            f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
            flush=True)

    summary = {}
    print(f"\n{args.workload}: {args.runs} runs")
    print(f"{'metric':24} {'median':>12} {'q1':>12} {'q3':>12} "
          f"{'spread':>8} {'bound':>6}")
    for name in results[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in results]
        q1, med, q3 = quartiles(vals)
        spread = (q3 - q1) / med
        summary[name] = {"median": med, "q1": q1, "q3": q3,
                         "spread": spread, "values": vals}
        print(f"{name:24} {med:12.5g} {q1:12.5g} {q3:12.5g} "
              f"{spread:8.2%} {bounds.get(name, float('nan')):6.2f}")
    shares = sorted({r["failed"] / r["attempted"] for r in results})
    print(f"failed share per run: {shares}")

    print("\nper-pass seconds (warm-up | timed), drift and spread")
    drifts, spreads = [], []
    for ps in passes:
        dr, sp = trend(ps["timed_s"])
        drifts.append(dr)
        spreads.append(sp)
        print(f"seed {ps['seed']:4} wall {ps['wall_s']:5.1f} s: "
              + " ".join(f"{t:.2f}" for t in ps["warmup_s"]) + " | "
              + " ".join(f"{t:.2f}" for t in ps["timed_s"])
              + f"   drift {dr:+.1%} spread {sp:.1%}"
              + ("   DRIFT > SPREAD" if abs(dr) > sp + 1e-12 else ""))
    print(f"median drift {statistics.median(drifts):+.1%}, median spread "
          f"{statistics.median(spreads):.1%}, drift down in "
          f"{sum(d < 0 for d in drifts)}/{len(drifts)} runs; mean wall "
          f"{statistics.mean(p['wall_s'] for p in passes):.1f} s per run")

    os.makedirs(os.path.join(ROOT, ".bench_work"), exist_ok=True)
    with open(os.path.join(ROOT, ".bench_work",
                           f"steady-{args.workload}.json"), "w") as f:
        json.dump({"workload": args.workload, "metrics": summary,
                   "passes": passes, "failed_shares": shares}, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
