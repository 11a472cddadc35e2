#!/usr/bin/env python3
"""graft's benchmark: one closed-loop, single-client workload per run.

Run from the root of a graft checkout:

    python3 graftbench/run.py --workload store_ingest --seed 1 --seconds 10 --trace 0

Builds graft and the workload code from source (sbt, offline) into
.bench_build/, checks the input tables in graftbench/data/sf0.1 against
their checksums, runs the workload in its own JVM (the seed picks the op
sequence and the rows written), checks every answer, and prints the workload's metrics by name
and unit. The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones. The full
record (and, traced, the span file) goes to graftbench/out/.
Exits non-zero when any check fails or the program cannot be built.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)
import stats  # noqa: E402

WORKLOADS = ["store_ingest", "analytics"]
SCALE = 0.1           # orders: 150k rows, lineitem: 600k rows
DATA = os.path.join(BENCH, "data", f"sf{SCALE:g}")
DEADLINE_S = 175      # whole run, build excluded
JVM_HEAP = "3g"
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

# The metrics the final JSON line carries, with their units (BENCHMARK.json).
END_TO_END = ["setup_s", "ops_per_s", "op_p50_ms"]


def die(msg, code=2):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp(root):
    """Digest of every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    tops = [os.path.join(root, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(root, "build.sbt"), os.path.join(root, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for top in tops:
        for d, _, fs in os.walk(top):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def check_data():
    """The input tables must be the committed ones, byte for byte."""
    sums = os.path.join(DATA, "SHA256SUMS")
    if not os.path.isfile(sums):
        die(f"input tables not found ({sums})")
    with open(sums) as fh:
        for line in fh:
            digest, name = line.split()
            path = os.path.join(DATA, name)
            if not os.path.isfile(path):
                die(f"input table missing: {path}")
            with open(path, "rb") as t:
                if hashlib.sha256(t.read()).hexdigest() != digest:
                    die(f"input table changed: {path}")


def build(root, out):
    """Compiles graft and the workload code; returns the runtime classpath."""
    cp_file = os.path.join(out, "graftbench-target", "classpath.txt")
    stamp_file = os.path.join(out, "build.stamp")
    stamp = source_stamp(root)
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    if shutil.which("sbt") is None:
        die("sbt is not on PATH")
    env = dict(os.environ, COURSIER_MODE="offline")
    log = os.path.join(out, "build.log")
    with open(log, "w") as fh:
        rc = subprocess.run(["sbt", "-batch", "-Dsbt.offline=true", "-Dsbt.override.build.repos=true",
                             "-Dsbt.log.noformat=true", "writeClasspath"],
                            cwd=BENCH, env=env, stdout=fh, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=850).returncode
    if rc != 0 or not os.path.isfile(cp_file):
        die(f"build failed (sbt exit {rc}); see {log}")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return open(cp_file).read().strip()


def run_jvm(cp, args, work, budget_s):
    """Runs the workload JVM; returns its exit code, or None on timeout.
    The JVM never outlives this call, also when this process is stopped."""
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java, f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={tmp}", *ADD_OPENS,
           "-cp", cp, "graftbench.Main", *args]
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return p.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def oracle_check(root, data, results):
    """Runs tools/check.py (the DuckDB oracle compare) on the analytics
    outputs; returns the names that did not pass."""
    r = subprocess.run([sys.executable, os.path.join(root, "tools", "check.py"), data, results,
                        *stats.QUERIES], capture_output=True, text=True, stdin=subprocess.DEVNULL,
                       timeout=120)
    passed = {ln.split()[1] for ln in r.stdout.splitlines() if ln.startswith("PASS ")}
    bad = [q for q in stats.QUERIES if q not in passed]
    for ln in r.stdout.splitlines():
        if ln.startswith("FAIL"):
            print(f"graftbench: oracle {ln}", file=sys.stderr)
    return bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # a stop request unwinds through run_jvm, which then stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))
            and os.path.isfile(os.path.join(root, "tools", "check.py"))):
        die("run this from the root of a graft checkout (build.sbt, src/ and tools/ not found)")
    check_data()
    out = os.path.join(root, ".bench_build")
    os.makedirs(out, exist_ok=True)
    cp = build(root, out)
    started_run = time.time()

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(out, "run", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    raw_path = os.path.join(work, "raw.json")
    rc = run_jvm(cp, ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                      "--trace", str(a.trace), "--data", DATA,
                      "--work", work, "--raw", raw_path],
                 work, DEADLINE_S - (time.time() - started_run) - 25)
    if rc != 0 or not os.path.isfile(raw_path):
        die(f"workload JVM {'timed out' if rc is None else f'exited {rc}'}; "
            f"see {os.path.join(work, 'jvm.log')}", 1)
    with open(raw_path) as fh:
        raw = json.load(fh)

    e2e, counts, per_kind = stats.end_to_end(raw)
    # post-run checks count as attempts next to the timed ops
    checks = {"full_read_matches_model" if a.workload != "analytics" else "outputs_written":
              raw["verified"]}
    if a.workload == "analytics":
        bad = oracle_check(root, DATA, os.path.join(work, "results"))
        checks.update({f"oracle_{q}": q not in bad for q in stats.QUERIES})
    attempted = len(raw["ops"]) + len(checks)
    failed = (sum(1 for o in raw["ops"] if not o["ok"]) + raw["warmup_failed"]
              + sum(1 for v in checks.values() if not v))
    e2e["error_rate"] = (failed / attempted, "ratio")
    correct = failed == 0

    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "cpus": raw["cpus"], "scale": SCALE, "timed_s": (raw["t1"] - raw["t0"]) / 1000,
        "ops_by_kind": per_kind, "checks": checks, "correct": correct,
        "attempted": attempted, "failed": failed,
        "end_to_end": {k: {"value": v, "unit": u, **({"n": counts[k]} if k in counts else {})}
                       for k, (v, u) in e2e.items()},
    }
    if a.trace:
        record["per_layer"] = {k: {"value": v, "unit": u} for k, (v, u) in stats.per_layer(raw).items()}
    res_dir = os.path.join(BENCH, "out")
    os.makedirs(res_dir, exist_ok=True)
    with open(os.path.join(res_dir, f"{tag}.json"), "w") as fh:
        json.dump(record, fh, indent=1, sort_keys=True)
    if a.trace:
        with open(os.path.join(res_dir, f"spans-{a.workload}-seed{a.seed}.json"), "w") as fh:
            json.dump(stats.spans_with_self_time(raw), fh)

    print(f"workload {a.workload}  seed {a.seed}  timed {record['timed_s']:.2f} s  "
          f"ops {len(raw['ops'])}  checks {'PASS' if correct else 'FAIL'}")
    for k, v in record["end_to_end"].items():
        val = "n/a" if v["value"] is None else f"{v['value']:.6g}"
        n = f"  (n={v['n']})" if "n" in v else ""
        print(f"  {k:<24} {val:>14} {v['unit']}{n}")
    if a.trace:
        for k, v in record["per_layer"].items():
            print(f"  {k:<44} {v['value']:>14.6g} {v['unit']}")
    shutil.copy(raw_path, os.path.join(res_dir, f"{tag}.raw.json"))
    if correct:
        shutil.rmtree(work, ignore_errors=True)

    if a.trace:
        metrics = record["per_layer"]
    else:
        metrics = {k: record["end_to_end"][k] for k in END_TO_END}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v["value"], "unit": v["unit"]} for k, v in metrics.items()}}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
