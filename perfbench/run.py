#!/usr/bin/env python3
"""The repository benchmark: one command, two workloads.

    python3 perfbench/run.py --workload query_suite --seed 1 --seconds 20 --trace 0

Builds the program and the harness from source (perfbench/build.sbt) on the
first run in a checkout, runs one workload in a fresh JVM, checks every
output (query rows against the DuckDB oracle here; exec outputs byte for
byte inside the JVM) and prints one JSON result as the last stdout line.
Exits non-zero when an output check fails or the run cannot complete.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

import oracle

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
DATA = os.path.join(BENCH, "data", "sf0.01")
WORKLOADS = ["query_suite", "exec_small_files"]
END_TO_END = ["setup_s", "op_p50_s", "items_per_s", "mb_per_s", "live_heap_mb"]
# The heap is set explicitly: the program's build.sbt default (32g) is
# larger than the boxes this benchmark runs on.
HEAP = "3g"
JVM_TIMEOUT_S = 165
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash():
    h = hashlib.sha256()
    for top in (PROGRAM_SRC, os.path.join(BENCH, "src", "main")):
        for d, dirs, files in sorted(os.walk(top)):
            dirs.sort()
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(p[len(ROOT):].encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for f in ("build.sbt", os.path.join("project", "build.properties")):
        with open(os.path.join(BENCH, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def classpath():
    """Compile with sbt when the sources changed; return the runtime classpath."""
    stamp = os.path.join(BENCH, "target", "perfbench-classpath.json")
    digest = source_hash()
    if os.path.exists(stamp):
        with open(stamp) as fh:
            cached = json.load(fh)
        if cached.get("hash") == digest:
            return cached["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=sys.stderr, text=True, timeout=840)
    sys.stderr.write(proc.stdout)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or ".jar" not in lines[-1]:
        fail(f"build failed (sbt exit {proc.returncode})")
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    with open(stamp, "w") as fh:
        json.dump({"hash": digest, "classpath": lines[-1].strip()}, fh)
    return lines[-1].strip()


def sweep_stale(work_root):
    """Remove work dirs of earlier runs whose process is gone."""
    if not os.path.isdir(work_root):
        return
    for name in os.listdir(work_root):
        try:
            os.kill(int(name), 0)
        except (ValueError, ProcessLookupError):
            shutil.rmtree(os.path.join(work_root, name), ignore_errors=True)
        except PermissionError:
            pass


def run_jvm(cp, args, work):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java, f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main"] + args
    # Own process group, so a timeout also stops the commands it spawned.
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, start_new_session=True)
    try:
        return proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"workload did not finish within {JVM_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(PROGRAM_SRC, "graft")) or not os.path.isdir(DATA):
        fail("run from a full checkout: the program sources or the benchmark data are missing")

    cp = classpath()
    work_root = os.path.join(BENCH, ".work")
    sweep_stale(work_root)
    work = os.path.join(work_root, str(os.getpid()))
    os.makedirs(work)
    try:
        data = os.path.join(work, "sf0.01")
        if a.workload == "query_suite":
            shutil.copytree(DATA, data)
        out = os.path.join(work, "outcome.json")
        rows = os.path.join(work, "rows.json")
        code = run_jvm(cp, [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--data", data, "--out", out,
            "--rows", rows], work)
        if code != 0 or not os.path.exists(out):
            fail(f"workload exited with {code}")
        with open(out) as fh:
            o = json.load(fh)
        failures = list(o["failures"])
        failed = o["failed"]
        if a.workload == "query_suite":
            with open(rows) as fh:
                bad = oracle.check(json.load(fh), DATA)
            print(f"oracle: {sum(1 for r in json.load(open(rows)).values() if r['oracle'])}"
                  f" queries checked, {len(bad)} disagree", file=sys.stderr)
            for name, (execs, already, why) in sorted(bad.items()):
                failed += execs - already
                failures.append(f"{name}: {why}")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted = o["attempted"]
    metrics = o["metrics"]
    if not a.trace and sorted(metrics) != sorted(END_TO_END):
        fail(f"workload reported {sorted(metrics)}, expected {sorted(END_TO_END)}")
    for k, m in metrics.items():
        print(f"{k:28s} {m['value']:.6g} {m['unit']}")
    print(f"{'failed_frac':28s} {failed / attempted:.6g} (failed {failed} of {attempted})")
    for k, v in o["stamp"].items():
        print(f"stamp.{k:22s} {v}")
    for f in failures[:20]:
        print(f"FAIL {f}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
