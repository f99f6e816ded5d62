"""Kill/resume evidence at 10x scale (round-5 verdict item #5).

The checkpointed CLIs (run_extract.py, run_curate.py) are kill/resume
tested only at small SF (tests/test_checkpoint.py uses the in-process
``fail_after`` hook). This script provides the hard-mode evidence at the
EVIDENCE_10X sizes: launch the REAL CLI as a subprocess, SIGKILL its
whole process group (python + JVM) mid-run, then re-submit the identical
command and let it run to completion. The kill point depends on how the
leg commits:

  * extraction runs in waves (one Spark plan for many buckets, which
    then commit within milliseconds of each other), so a manifest count
    would only be seen after the run ended; the kill lands while a
    wave's job is in flight: its ``_staging/wave-*`` directory exists
    and has no ``_wave.json`` seal yet;
  * curation runs one bucket per plan, so the kill lands once k bucket
    manifests exist.

The resumed store must be indistinguishable from a never-killed
single-shot run:

  * output equality — order-insensitive dataset hash (count + sum of
    xxhash64 over the canonical JSON of every row) over the committed
    data, resumed vs single-shot;
  * lineage equality — per-bucket rows_in / rows_out / observe()
    metrics (missing payloads for extraction, LSH cap drops for
    curation) byte-identical across the kill seam (latency/seq/
    timestamps are run-local by design and excluded).

Two legs:
  1. extraction over the 600k-doc interleaved corpus (same corpus as
     EVIDENCE_10X's scaling runs),
  2. curation (quality gates -> incremental sketch-index dedup) over
     the 500k-doc planted-dup text corpus — this exercises the
     persisted index's idempotent replay (before_seq) across a real
     process death, not just the unit-test seam.

Results are merged into EVIDENCE_10X.json under "resume_extract" /
"resume_curate". Usage:

    python scripts/evidence_resume.py [--quick]   (--quick = 1/10 sizes)
"""
from __future__ import annotations

import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

QUICK = "--quick" in sys.argv
N_EXTRACT = 60_000 if QUICK else 600_000
N_CURATE = 50_000 if QUICK else 500_000
BUCKETS = 16
KILL_AFTER = 5          # curation: SIGKILL once this many manifests exist
THREADS = len(os.sched_getaffinity(0))     # this host's cores
POLL_S = 0.25


def _session(name):
    from document_ai_spark.session import get_spark
    s = get_spark(name, master=f"local[{THREADS}]", shuffle_partitions=16)
    s.sparkContext.setLogLevel("OFF")
    return s


def dataset_hash(df) -> dict:
    """Order-insensitive content hash: rows canonicalized as JSON of a
    name-sorted struct, xxhash64-summed. Column order / file layout /
    row order do not matter; any value difference does."""
    from pyspark.sql import functions as F
    cols = [F.col(c) for c in sorted(df.columns)]
    # decimal(38,0) sum: 2^63-magnitude terms overflow a long under ANSI
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(F.to_json(F.struct(*cols)))
              .cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return {"rows": int(row["n"]), "hash": str(row["h"] or 0)}


def read_lineage(out_root: str) -> dict:
    """Per-bucket commit records, reduced to the run-invariant fields."""
    from document_ai_spark.streaming.store import ManifestStore
    return {b: {"rows_in": rec["rows_in"], "rows_out": rec["rows_out"],
                "metrics": rec["metrics"]}
            for b, rec in sorted(
                ManifestStore(out_root).committed_buckets().items())}


def _launch(cmd: list) -> subprocess.Popen:
    """Own process group so SIGKILL takes the JVM down with the driver —
    killing only the python process would orphan the gateway JVM, which
    keeps committing buckets and fakes a 'survived the kill' result."""
    return subprocess.Popen(
        cmd, cwd=str(REPO), start_new_session=True,
        stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)


def _manifest_count(out_root: str) -> int:
    """Committed buckets (a killed commit's temp is not one)."""
    from document_ai_spark.streaming.store import ManifestStore
    if not os.path.isdir(os.path.join(out_root, "_manifests")):
        return 0
    return len(ManifestStore(out_root).committed_buckets())


def after_manifests(out_root: str):
    """Kill point: KILL_AFTER bucket manifests exist."""
    n = _manifest_count(out_root)
    return f"{n} manifests" if n >= KILL_AFTER else None


def wave_in_flight(out_root: str):
    """Kill point: a wave's staging directory exists without its
    _wave.json seal (its extraction job is running)."""
    staging = os.path.join(out_root, "_staging")
    if not os.path.isdir(staging):
        return None
    for name in sorted(os.listdir(staging)):
        if (name.startswith("wave-") and not os.path.exists(
                os.path.join(staging, name, "_wave.json"))):
            return (f"{name} in flight, "
                    f"{_manifest_count(out_root)} manifests")
    return None


def run_killed_then_resume(cmd: list, out_root: str, kill_point,
                           timeout: float = 3600) -> dict:
    """Start the CLI, SIGKILL its process group once ``kill_point``
    (out_root -> description or None) reports one, then re-run the
    identical command to completion."""
    t0 = time.monotonic()
    proc = _launch(cmd)
    killed_at = None
    try:
        while proc.poll() is None:
            killed_at = kill_point(out_root)
            if killed_at is not None:
                os.killpg(os.getpgid(proc.pid), signal.SIGKILL)
                break
            if time.monotonic() - t0 > timeout:
                raise TimeoutError(f"no kill point reached: {cmd}")
            time.sleep(POLL_S)
        proc.wait(timeout=60)
    finally:
        if proc.poll() is None:
            os.killpg(os.getpgid(proc.pid), signal.SIGKILL)
    if killed_at is None:
        raise RuntimeError(
            f"CLI exited (rc={proc.returncode}) before the kill point "
            f"{kill_point.__name__} was reached: {cmd}")
    kill_sec = time.monotonic() - t0

    t1 = time.monotonic()
    rc = subprocess.run(cmd, cwd=str(REPO), stdout=subprocess.DEVNULL,
                        stderr=subprocess.DEVNULL, timeout=timeout
                        ).returncode
    if rc != 0:
        raise RuntimeError(f"resume run failed rc={rc}: {cmd}")
    return {
        "killed_at": killed_at,
        "kill_mode": "SIGKILL(process group)",
        "killed_leg_sec": round(kill_sec, 1),
        "resume_leg_sec": round(time.monotonic() - t1, 1),
    }


def compare(out_single: str, out_resumed: str, spark) -> dict:
    h_single = dataset_hash(spark.read.parquet(f"{out_single}/data"))
    h_resumed = dataset_hash(spark.read.parquet(f"{out_resumed}/data"))
    lin_single = read_lineage(out_single)
    lin_resumed = read_lineage(out_resumed)
    return {
        "single_shot": h_single,
        "resumed": h_resumed,
        "output_hash_match": h_single == h_resumed,
        "lineage_buckets": len(lin_resumed),
        "lineage_match": lin_single == lin_resumed,
    }


def extraction_leg(out: dict) -> None:
    corpus = f"/tmp/evidence_corpus_{N_EXTRACT}"
    if not os.path.exists(f"{corpus}/documents_interleaved.parquet"):
        s = _session("resume-gen")
        from document_ai_spark.sources.docgen import write_corpus
        shutil.rmtree(corpus, ignore_errors=True)
        write_corpus(s, corpus, n_docs=N_EXTRACT, seed=42,
                     partitions=THREADS)
        s.stop()

    out_single = f"/tmp/resume_ev_extract_single_{N_EXTRACT}"
    out_resumed = f"/tmp/resume_ev_extract_killed_{N_EXTRACT}"
    for d in (out_single, out_resumed):
        shutil.rmtree(d, ignore_errors=True)

    def cmd(dest):
        return [sys.executable, "scripts/run_extract.py",
                "--input", corpus, "--output", dest,
                "--buckets", str(BUCKETS), "--run-id", "resume-ev",
                "--master", f"local[{THREADS}]"]

    t0 = time.monotonic()
    rc = subprocess.run(cmd(out_single), cwd=str(REPO),
                        stdout=subprocess.DEVNULL,
                        stderr=subprocess.DEVNULL).returncode
    if rc != 0:
        raise RuntimeError(f"single-shot extract failed rc={rc}")
    single_sec = round(time.monotonic() - t0, 1)

    sched = run_killed_then_resume(cmd(out_resumed), out_resumed,
                                   wave_in_flight)

    s = _session("resume-compare-extract")
    try:
        cmp_ = compare(out_single, out_resumed, s)
    finally:
        s.stop()
    lin = read_lineage(out_resumed)
    missing = sum(json.loads(v["metrics"]).get("missing_payloads", 0)
                  for v in lin.values())
    out["resume_extract"] = {
        "n_docs": N_EXTRACT, "buckets": BUCKETS,
        "single_shot_sec": single_sec, **sched, **cmp_,
        "missing_payloads_total": missing,
        "rows_out_total": sum(v["rows_out"] for v in lin.values()),
    }
    print(f"resume_extract: {out['resume_extract']}", flush=True)


def curation_leg(out: dict) -> None:
    docs_path = f"/tmp/resume_ev_curate_docs_{N_CURATE}"
    if not os.path.exists(f"{docs_path}/_SUCCESS"):
        s = _session("resume-curate-gen")
        from scripts.evidence_10x import gen_text_corpus
        gen_text_corpus(s, N_CURATE).repartition(THREADS) \
            .write.mode("overwrite").parquet(docs_path)
        s.stop()

    out_single = f"/tmp/resume_ev_curate_single_{N_CURATE}"
    out_resumed = f"/tmp/resume_ev_curate_killed_{N_CURATE}"
    for d in (out_single, out_resumed):
        shutil.rmtree(d, ignore_errors=True)

    # Full stage set: corpus-global line dedup, the exact-substring
    # duplication filter (w=20 catches the planted near-dup families'
    # shared bodies), and PII scrubbing — so the kill/resume equality
    # check covers both persisted side tables (_hot_lines, _hot_spans)
    # across the death seam, not just the sketch index.
    def cmd(dest):
        return [sys.executable, "scripts/run_curate.py",
                "--input", docs_path, "--output", dest,
                "--buckets", str(BUCKETS), "--run-id", "resume-ev",
                "--line-dedup", "2", "--dup-span-max", "0.9",
                "--dup-span-w", "20", "--scrub-pii",
                "--master", f"local[{THREADS}]"]

    t0 = time.monotonic()
    rc = subprocess.run(cmd(out_single), cwd=str(REPO),
                        stdout=subprocess.DEVNULL,
                        stderr=subprocess.DEVNULL).returncode
    if rc != 0:
        raise RuntimeError(f"single-shot curate failed rc={rc}")
    single_sec = round(time.monotonic() - t0, 1)

    sched = run_killed_then_resume(cmd(out_resumed), out_resumed,
                                   after_manifests)

    s = _session("resume-compare-curate")
    try:
        cmp_ = compare(out_single, out_resumed, s)
    finally:
        s.stop()
    lin = read_lineage(out_resumed)
    caps = [json.loads(v["metrics"]) for v in lin.values()]
    out["resume_curate"] = {
        "n_docs": N_CURATE, "buckets": BUCKETS,
        "stages": ["line_dedup", "quality_gates", "dup_span_max=0.9@w20",
                   "sketch_index", "scrub_pii"],
        "single_shot_sec": single_sec, **sched, **cmp_,
        "lsh_cap_dropped_total": sum(
            c.get("lsh_cap_dropped", 0) for c in caps),
        "rows_out_total": sum(v["rows_out"] for v in lin.values()),
    }
    print(f"resume_curate: {out['resume_curate']}", flush=True)


def main() -> None:
    path = REPO / "EVIDENCE_10X.json"
    out = json.loads(path.read_text()) if path.exists() else {}
    extraction_leg(out)
    curation_leg(out)
    if not QUICK:
        path.write_text(json.dumps(out, indent=1) + "\n")
        print(f"wrote {path}")
    else:
        print(json.dumps({k: out[k] for k in
                          ("resume_extract", "resume_curate")}, indent=1))


if __name__ == "__main__":
    main()
