#!/usr/bin/env python3
"""Repository benchmark: one seeded workload per invocation.

    python3 perfbench/run.py --workload llm_corpus --seed 1 --seconds 20 --trace 0

Run from the repository root. The script

1. builds the engine and the benchmark from source with sbt (the
   benchmark's own build in perfbench/ depends on the root build), and
   caches the resulting classpath in .bench_build/ under a hash of every
   source and build file, so later runs start the JVM directly;
2. runs perfbench.Main in a fresh JVM whose java.io.tmpdir, Spark local
   dir, warehouse and generated inputs all live in a per-run directory
   under .bench_build/runs/, removed when the run ends;
3. checks the oracled keys the workload ran against DuckDB with
   tools/parity.py, on the exact inputs the run generated;
4. prints the report lines, then the result as one JSON object on the
   last line of stdout. `--trace 1` reports per-layer metrics instead of
   end-to-end ones and leaves a span file in .bench_build/reports/.

Exits non-zero without a result when the engine sources are missing,
the build fails, the run fails or it exceeds its time limit.
"""
import argparse
import fcntl
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import inputs  # noqa: E402  (the generator beside this script)

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("llm_corpus", "snapshot_ingest")
# A run must end within 180 s (900 s when it builds): JVM + parity + slack.
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 140
PARITY_TIMEOUT_S = 30
HEAP = "3g"
# All-pairs DuckDB oracles (seconds each, run twice by parity.py): one of
# them is checked per run, chosen by the seed; every other oracled key the
# run wrote is checked on every run.
ALL_PAIRS_ORACLES = ["llm_dedup_minhash", "llm_dedup_simhash", "llm_dedup_clusters"]

# Spark on JDK 17 outside spark-submit needs these (the root build's list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

# Inputs of the build: a change to any of these rebuilds.
SOURCE_DIRS = ["src/main", "project", "perfbench/src/main", "perfbench/project"]
SOURCE_FILES = ["build.sbt", "perfbench/build.sbt"]
REQUIRED = ["build.sbt", "src/main/scala/graft/SparkEntry.scala",
            "tools/parity.py", "perfbench/build.sbt"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    paths = [p for p in SOURCE_FILES if os.path.isfile(p)]
    for d in SOURCE_DIRS:
        for dirpath, dirnames, filenames in os.walk(d):
            dirnames[:] = sorted(x for x in dirnames if x != "target")
            paths += [os.path.join(dirpath, f) for f in filenames]
    for p in sorted(paths):
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


_children = []


def _stop_children(signum, _frame):
    for p in _children:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    sys.exit(128 + signum)


def run_bounded(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the whole group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    _children.append(p)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        die(f"{cmd[0]} exceeded {timeout} s")
    finally:
        _children.remove(p)


def classpath():
    os.makedirs(BUILD, exist_ok=True)
    cp_file = os.path.join(BUILD, "classpath.txt")
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp = source_stamp()
        if os.path.isfile(cp_file):
            with open(cp_file) as f:
                cached_stamp, cp = f.read().split("\n", 1)
            cp = cp.strip()
            if cached_stamp == stamp and all(os.path.exists(x) for x in cp.split(os.pathsep)):
                return cp
        tmp = os.path.join(BUILD, "sbt-tmp")
        os.makedirs(tmp, exist_ok=True)
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") +
                           f" -Djava.io.tmpdir={tmp} -Dsbt.server.autostart=false").strip()
        log_path = os.path.join(BUILD, "build.log")
        with open(log_path, "w") as log:
            rc, out = run_bounded(
                ["sbt", "--batch", "-Dsbt.log.noformat=true",
                 "export perfbench/Runtime/fullClasspath"],
                BUILD_TIMEOUT_S, cwd=os.path.join(ROOT, "perfbench"), env=env,
                stdout=subprocess.PIPE, stderr=log, text=True)
            log.write(out)
        lines = [x for x in out.splitlines() if x.strip() and not x.startswith("[")]
        if rc != 0 or not lines or "classes" not in lines[-1]:
            die(f"build failed (exit {rc}); see {os.path.relpath(log_path)}")
        cp = lines[-1].strip()
        with open(cp_file, "w") as f:
            f.write(stamp + "\n" + cp + "\n")
        return cp


def parity(tables, out, seed):
    """(keys checked, failing keys) from tools/parity.py over one output dir."""
    with open(os.path.join(out, "oracle_sql.json")) as f:
        keys = sorted(json.load(f))
    heavy = [k for k in ALL_PAIRS_ORACLES if k in keys]
    keys = [k for k in keys if k not in heavy] + ([heavy[seed % len(heavy)]] if heavy else [])
    rc, text = run_bounded([sys.executable, "tools/parity.py", tables, out] + keys,
                           PARITY_TIMEOUT_S, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True)
    ok = re.findall(r"^ok\s+(\S+)", text, re.M)
    bad = re.findall(r"^FAIL (\S+?):", text, re.M)
    if rc != 0 and not bad:
        bad = [f"parity.py exit {rc}"]
    return ok, bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, _stop_children)
    signal.signal(signal.SIGINT, _stop_children)
    missing = [p for p in REQUIRED if not os.path.isfile(p)]
    if missing:
        die(f"run from the repository root; missing {', '.join(missing)}")

    cp = classpath()
    run_id = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    work = os.path.join(BUILD, "runs", run_id)
    reports = os.path.join(BUILD, "reports", run_id)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(reports, exist_ok=True)
    t0 = time.time()
    inputs.generate(a.workload, a.seed, os.path.join(work, "data"))
    inputs_s = time.time() - t0
    result_path = os.path.join(reports, "result.json")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xmx{HEAP}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", a.trace,
            "--work", work, "--out", result_path, "--inputs-s", f"{inputs_s:.6f}"]
    try:
        with open(os.path.join(reports, "jvm.log"), "w") as log:
            rc, out = run_bounded(cmd, RUN_TIMEOUT_S, stdout=subprocess.PIPE,
                                  stderr=log, text=True)
        sys.stdout.write(out)
        if rc != 0 or not os.path.isfile(result_path):
            with open(os.path.join(reports, "jvm.log")) as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            die(f"benchmark JVM failed (exit {rc})")
        with open(result_path) as f:
            result = json.load(f)
        tp = time.time()
        for job in result.pop("parity"):
            ok, bad = parity(job["tables"], job["out"], a.seed)
            for k in ok:
                print(f"parity {k} ok")
            for k in bad:
                print(f"parity {k} FAIL")
            result["attempted"] += len(ok) + len(bad)
            result["failed"] += len(bad)
        print(f"parity duckdb_s={time.time() - tp:.3f}")
        result["correct"] = result["correct"] and result["failed"] == 0
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
