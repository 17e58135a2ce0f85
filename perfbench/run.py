#!/usr/bin/env python3
"""Order-stream and query-suite benchmark of the graft Spark engine.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Workloads (see BENCHMARK.json for why each was chosen):
  fanout_drain     checkpointed three-way fan-out draining an OCF backlog
  query_suite      a named subset of SparkEntry.queries, checked by DuckDB
                   through tools/check_oracle.py

The first run in a checkout builds the engine and the benchmark with sbt
(perfbench/build.sbt); later runs reuse the build while the sources are
unchanged. Each run starts one JVM (local[nproc], graft.Bench's session
settings), writes only under perfbench/work/<run>/ and deletes that
directory when it ends. The report goes to standard output; its last line
is one JSON object with `correct`, `attempted`, `failed` and `metrics`:
the end-to-end metrics of BENCHMARK.json with --trace 0, its per-layer
metrics with --trace 1 (a layer the workload bypasses reads 0).
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
LAUNCH = os.path.join(TARGET, "launch.txt")
STAMP = os.path.join(TARGET, "build.stamp")
CHECK_ORACLE = os.path.join(ROOT, "tools", "check_oracle.py")
RUN_DEADLINE_S = 165
BUILD_DEADLINE_S = 850
HEAP = ["-Xms3g", "-Xmx3g"]


def die(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every input of the build, so a changed source rebuilds."""
    h = hashlib.sha1()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for src in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(src):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    stamp = source_stamp()
    if os.path.exists(LAUNCH) and os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return
    os.makedirs(TARGET, exist_ok=True)
    log = os.path.join(TARGET, "build.log")
    print(f"perfbench: building (log: {os.path.relpath(log, ROOT)})", file=sys.stderr)
    # sbt resolves nothing remotely: offline, from the local repositories
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    with open(log, "w") as out:
        try:
            rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "launcher"],
                                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=BUILD_DEADLINE_S).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    if rc != 0 or not os.path.exists(LAUNCH):
        tail = open(log).read()[-3000:]
        die(f"build failed (exit {rc}):\n{tail}", 3)
    with open(STAMP, "w") as fh:
        fh.write(stamp)


def run_jvm(args, work, deadline):
    """Runs the benchmark JVM; returns (exit code, peak RSS in MB)."""
    lines = open(LAUNCH).read().splitlines()
    cp, opts = lines[0], lines[1:]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + HEAP + [f"-Djava.io.tmpdir={tmp}"] + opts + ["-cp", cp, "perfbench.Main"] + args
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        def kill():
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        timer = threading.Timer(max(1.0, deadline - time.time()), kill)
        timer.start()
        try:
            _, status, usage = os.wait4(proc.pid, 0)
        finally:
            timer.cancel()
        proc.returncode = os.waitstatus_to_exitcode(status)
    return proc.returncode, usage.ru_maxrss / 1024.0


def oracle_check(oracle, work):
    """Compares each query's Spark result with its DuckDB oracle SQL by
    running the repository's own checker, tools/check_oracle.py, on the
    tables and the results directory (which holds oracle_sql.json).
    Its verdict is its last line, "ALL PASS / N queries" or "K FAILURES /
    N queries"; DuckDB can abort at interpreter exit after printing it,
    which is noted, not counted. Returns (failures, passed, note)."""
    env = dict(os.environ, TMPDIR=os.path.join(work, "tmp"))
    p = subprocess.run([sys.executable, CHECK_ORACLE, oracle["tables"], oracle["results"]],
                       cwd=work, env=env, capture_output=True, text=True, timeout=120)
    lines = p.stdout.splitlines()
    fails = [l[len("FAIL "):] for l in lines if l.startswith("FAIL ")]
    passed = sum(1 for l in lines if l.startswith("PASS "))
    verdict = f"{'ALL PASS' if not fails else f'{len(fails)} FAILURES'} / {passed + len(fails)} queries"
    note = ""
    if verdict not in lines:
        fails.append(f"check_oracle.py gave no verdict (exit {p.returncode}): {p.stderr.strip()[-500:]}")
    elif (p.returncode != 0) != bool(fails):
        note = f", exit {p.returncode} after its verdict: {p.stderr.strip()[-200:]}"
    return fails, passed, note


def remove_stale_runs(work_root):
    """Deletes work directories left by runs that were killed."""
    for d in glob.glob(os.path.join(work_root, "run-*")):
        pid = int(os.path.basename(d).split("-")[1])
        try:
            os.kill(pid, 0)
        except ProcessLookupError:
            shutil.rmtree(d, ignore_errors=True)
        except PermissionError:
            pass


def bytes_under(path):
    total = 0
    for d, _, names in os.walk(path):
        for n in names:
            try:
                total += os.lstat(os.path.join(d, n)).st_size
            except OSError:
                pass
    return total


def fmt(m):
    extra = f"  [n={m['n']}] {m.get('detail', '')}".rstrip()
    return f"{m['value']:.6g} {m['unit']}{extra}"


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawTextHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="smoke-test sizes")
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        die("BENCHMARK.json not found at the checkout root", 2)
    spec = json.load(open(spec_path))
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        die(f"unknown workload {a.workload}", 2)
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("engine sources (src/main/scala/graft) not found next to perfbench/", 2)
    if not os.path.exists(CHECK_ORACLE):
        die("tools/check_oracle.py not found next to perfbench/", 2)
    build()
    start = time.time()  # the run's deadline excludes a first-run build

    work_root = os.path.join(HERE, "work")
    remove_stale_runs(work_root)
    work = os.path.join(work_root, f"run-{os.getpid()}-{int(start)}")
    os.makedirs(work)
    result_path = os.path.join(work, "result.json")
    trace_path = os.path.join(HERE, "results", f"trace-{a.workload}-seed{a.seed}.json")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--out", result_path, "--trace-out", trace_path]
    if a.tiny:
        args.append("--tiny")
    try:
        rc, rss_mb = run_jvm(args, work, start + RUN_DEADLINE_S)
        if rc != 0 or not os.path.exists(result_path):
            log = open(os.path.join(work, "jvm.log"), errors="replace").read()[-4000:]
            die(f"benchmark JVM failed (exit {rc}):\n{log}", 4)
        res = json.load(open(result_path))
        failures = list(res["failures"])
        failed = res["failed"]
        if res.get("oracle"):
            t0 = time.time()
            ofails, passed, onote = oracle_check(res["oracle"], work)
            failures += [f"oracle {f}" for f in ofails]
            failed += len(ofails)
            res["notes"].append(f"oracle check (tools/check_oracle.py): {passed}"
                                f"/{passed + len(ofails)} queries equal ({time.time() - t0:.1f} s{onote})")
        written = bytes_under(work) + res["bytes_discarded"]
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(work_root)
        except OSError:
            pass

    e2e = dict(res["end_to_end"])
    e2e["rss_peak_mb"] = {"value": rss_mb, "unit": "MB", "n": 1, "detail": "benchmark JVM peak RSS"}
    attempted = max(1, res["attempted"])
    e2e["failed_frac"] = {"value": failed / attempted, "unit": "ratio", "n": attempted,
                          "detail": "failed operations / attempted"}
    headline = dict(res["headline"], rss_peak_mb=e2e["rss_peak_mb"])
    if "setup_s" in e2e:
        headline["setup_s"] = e2e["setup_s"]
    layers = dict(res["per_layer"])
    layers["run.bytes_written"] = {"value": float(written), "unit": "bytes", "n": 1,
                                   "detail": "files the run wrote (deleted at exit)"}

    p = res["protocol"]
    print(f"== perfbench {a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace}")
    print("protocol: " + json.dumps({k: v for k, v in p.items() if k != "inputs"}))
    print("inputs:   " + json.dumps(p["inputs"]))
    print("-- end-to-end")
    for k, m in e2e.items():
        print(f"  {k:<22} {fmt(m)}")
    print(f"  {'bytes_written':<22} {written} bytes")
    if a.trace:
        print("-- per-layer (0 = layer not exercised by this workload)")
        for k in sorted(layers):
            print(f"  {k:<30} {fmt(layers[k])}")
        print(f"  spans written to {os.path.relpath(trace_path, ROOT)}")
    for n in res["notes"]:
        print(f"  note: {n}")
    for f in failures:
        print(f"  FAILED: {f}")

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    source = layers if a.trace else headline
    metrics = {}
    missing = []
    for m in wanted:
        got = source.get(m["name"])
        if got is None:
            missing.append(m["name"])
        metrics[m["name"]] = {"value": float(got["value"]) if got else 0.0, "unit": m["unit"]}
    if a.trace:
        print("  not exercised (reported as 0): " + " ".join(missing))
        missing = []
    for name in missing:
        print(f"  FAILED: end-to-end metric {name} not measured")
    print(json.dumps({"correct": failed == 0 and not missing, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
