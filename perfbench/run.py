#!/usr/bin/env python3
"""Benchmark of the metrica-spark engine, one workload per invocation.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root (any directory works; paths resolve from this
file). The first run compiles the engine and the benchmark (build.py).
One JVM then drives the engine's public functions in `local[N]`
(N = min(4, cores)), one client thread in a closed loop:

  metrica_pipeline  one pass per op: ingest -> compact -> DataLens charts
                    (DataFrame Q1/Q2 over the compacted table; CH-SQL Q1
                    WITH TOTALS over the raw table) -> hits write ->
                    day-sliced CSV export -> reconcile
  curation          one pass = eight curation entries, `noop` sink

Inputs are generated from --seed inside a per-run scratch directory under
`.bench_build/`, which is removed at exit. Every op's output is checked;
curation outputs are compared with their DuckDB oracles after the JVM
exits. A failed check counts as one failure and is printed.

Stdout: a report (every metric with its unit, the correctness verdict, the
host contention record), then one JSON line with the metrics BENCHMARK.json
lists: its end-to-end metrics with --trace 0, its per-layer metrics with
--trace 1 (see README.md).
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

# Scale of each workload's generated inputs, as a fraction of the default
# size (metrica: 390,273 hits, a tenth of the reference's 3 days; curation:
# 5,000 documents and 2,000 embeddings). Chosen so a run with its set-up
# fits the time budget of the benchmark's repeated runs.
SCALE = {"metrica_pipeline": 0.1, "curation": 0.2}

# Contention limits past which a run's timings are not vouched for: CPU
# other processes took, iowait+steal, and the share of wall time some task
# stalled on I/O or memory. On a 4-vCPU VM, quiet runs measured other CPU
# below 2.5% and iowait+steal below 1%; at 4% and 2.5% curation passes ran
# 15% slower. CPU pressure is recorded but not judged: the benchmark's own
# threads saturate the cores and raise it themselves.
LIMITS = {"other_cpu_share": 0.035, "iowait_steal_share": 0.02,
          "psi_io_some_share": 0.05, "psi_mem_some_share": 0.05}

JVM_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")] + [
    "-Xms2g", "-Xmx2g", "-Xss8m", "-XX:ReservedCodeCacheSize=512m",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]

DEADLINE_S = 170


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def pass_seconds(rec, phase):
    """Seconds of each complete pass of `phase` whose ops all succeeded."""
    passes = {}
    for o in rec["ops"]:
        if o["phase"] == phase:
            passes.setdefault(o["pass"], []).append(o)
    return [sum(o["ms"] for o in ops) / 1e3 for ops in passes.values()
            if len(ops) == rec["pass_size"] and all(o["ok"] for o in ops)]


def end_to_end(rec, spec):
    """Every end-to-end metric of the spec, as (value, unit)."""
    pass_s = statistics.median(pass_seconds(rec, "timed"))
    got = {"setup_s": statistics.median(rec["setup_s"]), "pass_s": pass_s,
           "rows_per_s": rec["source_rows"] / pass_s, "peak_rss_mb": rec["peak_rss_mb"]}
    return {m["name"]: (got[m["name"]], m["unit"]) for m in spec["end_to_end"]}


def per_layer(rec, spec):
    """Every per-layer metric of the spec, as (value, unit); a layer the
    workload does not exercise reports 0."""
    got = dict(rec["per_layer"])
    plain = statistics.median(pass_seconds(rec, "timed"))
    traced = statistics.median(pass_seconds(rec, "traced"))
    got["trace.overhead_pct"] = 100.0 * (traced - plain) / plain
    return {m["name"]: (got.get(m["name"], 0.0), m["unit"]) for m in spec["per_layer"]}


def contention(rec):
    h = rec["host"]
    wall_ms = h["wall_s"] * 1e3
    seen = {"other_cpu_share": h["other_cpu_share"],
            "iowait_steal_share": h["iowait_steal_share"],
            "psi_cpu_some_share": h["psi_cpu_some_ms"] / wall_ms,
            "psi_io_some_share": h["psi_io_some_ms"] / wall_ms,
            "psi_mem_some_share": h["psi_mem_some_ms"] / wall_ms}
    reasons = [f"{k}={v:.3f} > {LIMITS[k]}" for k, v in seen.items()
               if k in LIMITS and v > LIMITS[k]]
    return seen, reasons


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(SCALE))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, help="input size factor (default per workload)")
    a = ap.parse_args()
    # a terminated run still stops its JVM and removes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    import build  # the package's build file
    try:
        classpath = build.ensure(ROOT)
    except (RuntimeError, subprocess.CalledProcessError) as e:
        log(f"build failed: {e}")
        return 2
    t_start = time.monotonic()

    scratch = os.path.join(ROOT, ".bench_build", f"run-{os.getpid()}-{uuid.uuid4().hex[:8]}")
    os.makedirs(os.path.join(scratch, "tmp"))
    try:
        result_file = os.path.join(scratch, "result.json")
        cmd = ["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={scratch}/tmp", "-cp", classpath,
               "perfbench.Main", a.workload, str(a.seed), str(a.seconds), str(a.trace),
               scratch, result_file, str(a.scale or SCALE[a.workload])]
        proc = subprocess.Popen(cmd, cwd=scratch, stdout=sys.stderr, stderr=sys.stderr)
        try:
            proc.wait(timeout=max(1.0, DEADLINE_S - (time.monotonic() - t_start)))
        except subprocess.TimeoutExpired:
            log("benchmark JVM exceeded its time limit")
            return 1
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
        if proc.returncode != 0 or not os.path.exists(result_file):
            log(f"benchmark JVM failed (exit {proc.returncode})")
            return 1
        with open(result_file) as fh:
            rec = json.load(fh)

        attempted, failed, errors = rec["attempted"], rec["failed"], list(rec["errors"])
        if a.workload == "curation":
            import oracle
            verdict = oracle.check(rec["corpus"], rec["check_dir"],
                                   rec["inputs"]["entries"], rec["oracle"])
            attempted += len(verdict)
            for name, why in sorted(verdict.items()):
                if why is not None:
                    failed += 1
                    errors.append(f"{name}: oracle mismatch: {why}")
                    log(f"FAILED {name}: oracle mismatch: {why}")
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    metrics = per_layer(rec, spec) if a.trace else end_to_end(rec, spec)
    seen, reasons = contention(rec)

    print(f"perfbench {a.workload} seed={a.seed} cores={rec['cores']} "
          f"trace={a.trace} inputs={json.dumps(rec['inputs'], sort_keys=True)}")
    print("  timed passes: " + ", ".join(f"{s:.3f}" for s in pass_seconds(rec, "timed"))
          + " s; set-up repetitions: " + ", ".join(f"{s:.3f}" for s in rec["setup_s"]) + " s")
    for k, (v, unit) in sorted(metrics.items()):
        print(f"  {k:36s} {v:16.6f} {unit}")
    if a.trace:
        print("  spans: trace id parent layer call start_ms ms self_ms jobs")
        for sp in rec["spans"]:
            print(f"    {sp['trace']:3d} {sp['id']:4d} {sp['parent']:4d} {sp['layer']:10s} "
                  f"{sp['name']:34s} {sp['start_ms']:10.1f} {sp['ms']:9.1f} "
                  f"{sp['self_ms']:9.1f} {sp['jobs']:4d}")
    print(f"  {'error_rate':36s} {failed / attempted:16.6f} ratio "
          f"({failed} failed / {attempted} attempted)")
    for e in errors[:20]:
        print(f"    failure: {e}")
    print(f"  correct: {str(failed == 0).lower()}")
    print("  contention: " + ", ".join(f"{k}={v:.4f}" for k, v in seen.items())
          + (f" -> NOT VOUCHED ({'; '.join(reasons)})" if reasons else " -> vouched"))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u}
                                  for k, (v, u) in sorted(metrics.items())}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
