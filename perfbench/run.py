#!/usr/bin/env python3
"""graft benchmark: one command for the engine's three uses.

    python3 perfbench/run.py --workload analytics|live_ingest \
        --seed N --seconds S --trace 0|1

Builds the engine and the benchmark package from source (build.py), runs
one workload in one JVM (Spark local[4]) and prints, as the last line of
stdout, one JSON record with the keys correct, attempted, failed and
metrics: every end_to_end metric of BENCHMARK.json with --trace 0, every
per_layer metric with --trace 1. The line before it carries the workload's
own metric names (analytics_total_s, ingest_freshness_p99_ms, ...) and
notes. Exits 1 when a correctness check failed, and with another non-zero
code, printing no record, when the run could not complete.

    python3 perfbench/run.py --expect
regenerates perfbench/expected/analytics.tsv (see Analytics.writeExpected).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.dont_write_bytecode = True
import build  # noqa: E402

SPEC = json.loads((HERE.parent / "BENCHMARK.json").read_text()) \
    if (HERE.parent / "BENCHMARK.json").exists() else None
HEAP = "3g"
TIMEOUT_S = 170
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def jvm(cp, work, args, log_path):
    """Run perfbench.Main in its own process group; kill it on timeout."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = (["java", f"-Xmx{HEAP}", "-Xss4m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS]
           + ["-cp", cp, "perfbench.Main"] + [str(a) for a in args])
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work,
                                env=env, start_new_session=True)
        try:
            return proc.wait(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return None


def die(msg):
    """A run that could not complete: no record, exit code 2."""
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def tail(path, n=40):
    try:
        return "\n".join(Path(path).read_text(errors="replace").splitlines()[-n:])
    except OSError:
        return ""


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=SPEC["run_seconds"] if SPEC else 10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--expect", action="store_true")
    a = ap.parse_args()
    if SPEC is None:
        die("BENCHMARK.json not found")
    try:
        cp = build.build()
    except SystemExit as e:
        die(e)
    runs = build.BUILD / "runs"
    if a.expect:
        work = runs / "expect"
        shutil.rmtree(work, ignore_errors=True)
        work.mkdir(parents=True)
        rc = jvm(cp, work, ["expect", work, HERE / "expected" / "analytics.tsv"], work / "jvm.log")
        print(tail(work / "jvm.log", 5), file=sys.stderr)
        sys.exit(0 if rc == 0 else 2)

    names = [w["name"] for w in SPEC["workloads"]]
    if a.workload not in names:
        die(f"--workload must be one of {names}")
    work = runs / f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    result = work / "result.json"
    t0 = time.time()
    rc = jvm(cp, work, [a.workload, a.seed, a.seconds, a.trace, work, result, HERE],
             work / "jvm.log")
    if rc != 0 or not result.exists():
        print(tail(work / "jvm.log"), file=sys.stderr)
        die(f"JVM {'timed out' if rc is None else f'exited {rc}'} after {time.time() - t0:.0f} s")
    rec = json.loads(result.read_text())
    spans = build.BUILD / "spans"
    for f in work.glob("spans-*.jsonl"):
        spans.mkdir(exist_ok=True)
        shutil.move(str(f), spans / f.name)
    shutil.copy(work / "jvm.log", build.BUILD / f"last-{a.workload}.log")
    shutil.rmtree(work, ignore_errors=True)

    section = "per_layer" if a.trace else "end_to_end"
    got = rec["layer"] if a.trace else rec["e2e"]
    metrics, broken = {}, []
    for m in SPEC[section]:
        v = got.get(m["name"])
        if v is None or v["value"] is None or v["unit"] != m["unit"]:
            broken.append(f"{m['name']}: {v}")
        else:
            metrics[m["name"]] = {"value": v["value"], "unit": m["unit"]}
    for f in rec["failures"]:
        print(f"perfbench: CHECK FAILED: {f}", file=sys.stderr)
    if broken:
        die(f"metrics missing or malformed: {broken}")
    print(json.dumps({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                      "named": rec["named"], "notes": rec["notes"]}, sort_keys=True))
    print(json.dumps({"correct": rec["correct"], "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": metrics}))
    sys.exit(0 if rec["correct"] else 1)


if __name__ == "__main__":
    main()
