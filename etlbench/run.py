#!/usr/bin/env python3
"""End-to-end benchmark of the engine: one workload per run, in a fresh JVM.

Usage (from the repository root):
    python3 etlbench/run.py --workload etl_tail --seed 1 --seconds 10 --trace 0

Workloads: etl_tail, layout_epochs (see etlbench/README.md).
The run compiles the repository's sources and the benchmark's own Scala
code when they changed (etlbench/build.py), starts the JVM directly, checks
every output against DuckDB outside the timed region, and prints one JSON
object as the last line of stdout. With --trace 1 the metrics are the
per-layer ones, and the span tree is written to etlbench/.out/.
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
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
import batches  # noqa: E402
import build  # noqa: E402
import checks  # noqa: E402

# the sf0.1 corpus, where the repository's mains read it by default
DATA = os.environ.get("ETLBENCH_DATA", str(Path.home() / "testdata" / "sf0.1"))
CPUS = min(4, os.cpu_count() or 1)
# JIT and GC threads are capped so that, with local[CPUS], Spark's task
# threads are not starved by the JVM's own helpers on a 4-core host.
JVM_FLAGS = [
    "-Xms3g", "-Xmx3g", "-Xss4m",
    "-XX:+UseG1GC", "-XX:ParallelGCThreads=2", "-XX:ConcGCThreads=1",
    "-XX:CICompilerCount=2", "-XX:-UsePerfData",
]
# Warm rounds per run: one per this many seconds of --seconds, whole rounds
# only, so every run of a workload does the same operations whatever its
# speed. --seconds thus picks the round count, not the run's wall time,
# which also holds JVM start, the cold round and the checks. At --seconds 10, etl_tail gets two passes (about 19 s on a 4-core
# host: one pass is too short to average out the host's noise) and
# layout_epochs one epoch (about 18 s).
SECONDS_PER_ROUND = {"etl_tail": 5.0, "layout_epochs": 10.0}


def warm_rounds(workload, seconds):
    return max(1, round(seconds / SECONDS_PER_ROUND[workload]))


# ---------------------------------------------------------------- metrics

def end_to_end(res, rounds):
    walls = {r["round"]: r["wall_ms"] for r in res["rounds"]}
    warm = [walls[r] for r in range(1, rounds + 1)]
    by_op = {}
    for s in res["ops"]:
        if s["round"] >= 1:
            by_op.setdefault(s["op"], []).append(s["ms"])
    meds = [statistics.median(v) for v in by_op.values()]
    geo = statistics.geometric_mean(meds)
    return {
        "setup_s": (res["setup_s"], "s"),
        "cold_s": (walls[0] / 1e3, "s"),
        "iter_s": (statistics.median(warm) / 1e3, "s"),
        "geomean_ms": (geo, "ms"),
        "cpu_s": (res["cpu_ms_warm"] / 1e3 / rounds, "s"),
        "live_heap_mb": (res["live_heap_mb"], "MB"),
    }


def unit_of(name):
    for suf, u in (("_ms", "ms"), ("_s", "s"), ("_mb", "MB"),
                   ("_frac", "ratio"), ("_amp", "ratio")):
        if name.endswith(suf):
            return u
    return "count"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=sorted(SECONDS_PER_ROUND))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # on SIGTERM, unwind through the `finally` below: stop the JVM, remove
    # the run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t_start = time.time()
    classpath = build.ensure_built()
    if not Path(DATA, "documents.parquet").exists():
        raise SystemExit(f"etlbench: corpus not found at {DATA} (set ETLBENCH_DATA)")
    rounds = warm_rounds(a.workload, a.seconds)
    run_dir = HERE / ".run" / f"{a.workload}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    proc = None
    try:
        t0_ms = int(time.time() * 1000)
        history, ingest = None, None
        if a.workload == "layout_epochs":
            history, ingest = batches.make_batches(DATA, a.seed, rounds,
                                                   run_dir / "batches")
        out_dir = HERE / ".out"
        out_dir.mkdir(exist_ok=True)
        trace_out = out_dir / f"trace-{a.workload}-seed{a.seed}.json"
        cmd = (["java"] + JVM_FLAGS + build.ADD_OPENS + [
            f"-Djava.io.tmpdir={run_dir / 'tmp'}",
            f"-Dspark.local.dir={run_dir / 'tmp'}",
            f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classpath, "graft.etlbench.Main",
            "--workload", a.workload, "--rounds", str(rounds),
            "--trace", str(a.trace), "--data", DATA, "--run-dir", str(run_dir),
            "--cpus", str(CPUS), "--t0-ms", str(t0_ms),
            "--result", str(run_dir / "result.json"),
            "--trace-out", str(trace_out)])
        log = open(run_dir / "jvm.log", "w")
        # GraftSession reads SPARK_GRAFT_* overrides of the shuffle and AQE
        # settings from the environment; drop them so every run measures
        # the settings the README records
        env = {k: v for k, v in os.environ.items()
               if not k.startswith("SPARK_GRAFT_")}
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                cwd=run_dir, env=env, start_new_session=True)
        rc = proc.wait(timeout=170)
        log.close()
        if rc != 0 or not (run_dir / "result.json").exists():
            sys.stderr.write((run_dir / "jvm.log").read_text()[-4000:])
            raise SystemExit(f"etlbench: JVM exited with {rc}")
        res = json.loads((run_dir / "result.json").read_text())
        t_jvm = time.time()
        for op in dict.fromkeys(s["op"] for s in res["ops"]):
            ms = [f"{s['ms']:.0f}" for s in res["ops"] if s["op"] == op]
            sys.stderr.write(f"[etlbench] {op} ms by round: {' '.join(ms)}\n")
        failures = {(f["op"], f["round"]) for f in res["failed"]}
        for f in res["failed"]:
            sys.stderr.write(f"[etlbench] {f['op']} round {f['round']}: {f['error']}\n")
        if a.workload == "layout_epochs":
            wrong = checks.check_layout(res["extra"], run_dir / "batches",
                                        history, rounds + 1)
        else:
            wrong = checks.check_queries(DATA, res["extra"]["dump_dir"],
                                         res["extra"]["oracle_sql"], rounds)
        failures |= wrong
        correct = not wrong
        t_check = time.time()
        if a.trace:
            m = dict(res["layers"])
            if a.workload == "layout_epochs":
                warm_bytes = sum(ingest[1:rounds + 1]) / rounds
                m["writers.write_amp"] = m["writers.bytes_written_mb"] * 1048576 / warm_bytes
            else:  # no layout: the Writers metrics read 0, like every
                # other layer metric of a layer the workload does not run
                m["writers.write_amp"] = m["writers.stored_mb"] = 0.0
            metrics = {k: (v, unit_of(k)) for k, v in m.items()}
        else:
            metrics = end_to_end(res, rounds)
        print(f"etlbench {a.workload} seed={a.seed} rounds={rounds} "
              f"wall_s={time.time() - t_start:.1f} jvm_s={t_jvm - t0_ms / 1e3:.1f} "
              f"check_s={t_check - t_jvm:.1f}")
        print(json.dumps({
            "correct": correct, "attempted": res["attempted"],
            "failed": len(failures),
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in sorted(metrics.items())}}))
    finally:
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
