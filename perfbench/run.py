#!/usr/bin/env python3
"""Runs one workload of the graft benchmark and prints its metrics.

    python3 perfbench/run.py --workload batch|serve --seed N \
        --seconds S --trace 0|1

Run from the repository root. The first run builds graft and the harness
from source with sbt (perfbench/build.sbt); later runs reuse the build
while the sources are unchanged. Everything a run writes goes under
.bench_build/ in the repository root. With --trace 0 the last stdout line
is a JSON object with every end_to_end metric of BENCHMARK.json; with
--trace 1 it holds every per_layer metric, and the run's spans are written
to .bench_build/traces/.
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
import uuid

import metrics

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
HEAP = "3g"
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

# Spark on JDK 17 needs these when not launched through spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


_child = None


def spawn(cmd, timeout, **kw):
    """Runs `cmd` to completion; returns (returncode or None on timeout,
    stdout). The child is killed and reaped if this process is stopped."""
    global _child
    _child = subprocess.Popen(cmd, **kw)
    try:
        out, _ = _child.communicate(timeout=timeout)
        return _child.returncode, out
    except subprocess.TimeoutExpired:
        _child.kill()
        _child.communicate()
        return None, None
    finally:
        _child = None


def _stop(signum, _frame):
    if _child is not None and _child.poll() is None:
        _child.kill()
        _child.wait()
    sys.exit(128 + signum)


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_fingerprint():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in fs
                      if f.endswith((".scala", ".sbt", ".properties", ".java"))]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Compiles graft and the harness; returns the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no graft sources next to {HERE}; run from a full checkout")
    cp_file = os.path.join(BUILD, f"classpath-{source_fingerprint()}.txt")
    if os.path.isfile(cp_file):
        with open(cp_file) as fh:
            cp = fh.read().strip()
        if all(os.path.exists(p) for p in cp.split(os.pathsep)):
            return cp
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "sbt.repository.config" not in opts and os.path.isfile(repos):
        opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    env["SBT_OPTS"] = opts.strip()
    # Keep sbt's scratch files (server socket, JNA, file watcher, JVM perf
    # data) inside the checkout.
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           f"-Dsbt.global.base={BUILD}/sbt-global", f"-Dsbt.ivy.home={BUILD}/ivy2",
           f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}", f"-Dswoval.tmpdir={tmp}",
           "compile", "export Runtime/fullClasspath"]
    env["JAVA_TOOL_OPTIONS"] = (env.get("JAVA_TOOL_OPTIONS", "") + " -XX:-UsePerfData").strip()
    print("perfbench: building graft and the harness with sbt", file=sys.stderr)
    rc, out = spawn(cmd, BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=subprocess.PIPE,
                    stderr=subprocess.STDOUT, text=True)
    if rc is None:
        fail("sbt build timed out")
    if rc != 0:
        sys.stderr.write(out[-6000:])
        fail("sbt build failed")
    lines = [l for l in out.splitlines() if not l.startswith("[") and ".jar" in l]
    if not lines:
        fail("sbt printed no classpath")
    with open(cp_file, "w") as fh:
        fh.write(lines[-1])
    return lines[-1]


def run_jvm(cp, args, work, out):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = ["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", work, "--out", out]
    os.makedirs(os.path.join(BUILD, "logs"), exist_ok=True)
    log = os.path.join(BUILD, "logs", os.path.basename(work) + ".log")
    with open(log, "w") as fh:
        rc, _ = spawn(cmd, RUN_TIMEOUT_S, cwd=ROOT, stdout=fh, stderr=subprocess.STDOUT)
    if rc != 0:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-6000:])
        fail("benchmark JVM " + ("timed out" if rc is None else f"exited with {rc}"))


def main():
    signal.signal(signal.SIGTERM, _stop)
    signal.signal(signal.SIGINT, _stop)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["batch", "serve"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    cp = build()
    run_id = uuid.uuid4().hex[:12]
    work = os.path.join(BUILD, "work", f"{args.workload}-{args.seed}-{run_id}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "record.json")
    t0 = time.time()
    try:
        run_jvm(cp, args, work, out)
        with open(out) as fh:
            rec = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    env = dict(rec["env"], seed=args.seed, workload=args.workload, trace=args.trace,
               run_id=run_id, scale=rec["scale"], total_run_s=time.time() - t0)
    print("env " + json.dumps(env, sort_keys=True))
    for o in rec["ops"]:
        print(f"QueryName[{o['kind']}], ResultCount[{o['rows']}], "
              f"ExecuteTimeMS[{o['wall_s'] * 1e3:.1f}]"
              + ("" if o["ok"] else f"  FAILED: {o['error']}"))
    for o in rec["ops"]:
        if not o["ok"]:
            print(f"failed op {o['kind']} ({o['label']}): {o['error']}", file=sys.stderr)

    if args.trace:
        os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
        path = os.path.join(BUILD, "traces", f"{args.workload}-{args.seed}-{run_id}.jsonl")
        with open(path, "w") as fh:
            for s in metrics.spans(rec, run_id):
                fh.write(json.dumps(s) + "\n")
        print(f"spans {os.path.relpath(path, ROOT)}")
        values, wanted = metrics.per_layer(rec), spec["per_layer"]
    else:
        values, wanted = metrics.end_to_end(rec), spec["end_to_end"]

    result = {}
    for m in wanted:
        result[m["name"]] = {"value": values[m["name"]], "unit": m["unit"]}
        print(f"{m['name']} {values[m['name']]} {m['unit']}")
    failed = sum(1 for o in rec["ops"] if not o["ok"])
    attempted = len(rec["ops"])
    print(json.dumps({"correct": failed == 0 and attempted > 0, "attempted": attempted,
                      "failed": failed, "metrics": result}))


if __name__ == "__main__":
    main()
