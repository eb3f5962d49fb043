#!/usr/bin/env python3
"""The repo benchmark: one command for the `analyze_raw` and `index_serve`
workloads.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
harness with sbt (perfbench/build.sbt) and caches the classpath; every run
then generates its inputs from the seed, starts one JVM with one local
Spark session, runs the workload, checks the outputs against the
generator's ground truth and independent computations, and prints one
JSON line last: with `--trace 0` the end-to-end metrics, with `--trace 1`
the per-layer metrics of a traced run. The line before it carries the
workload's named figures, units and run settings. Any failed check makes
the command exit 1 and names what differed.
"""

import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(HERE, ".build")
WORKLOADS = ("analyze_raw", "index_serve")
RUN_LIMIT_S = 175
HEAP = "3g"
# the same module openings spark-submit adds on JDK 17
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
# analyze_raw: page files of gen.HITS_PER_PAGE hits each
PAGES = 4
INDEX_SIZES = {"docs": 2000, "vectors": 2000, "queries": 64, "batch_queries": 64}


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def source_stamp():
    """Hash of everything the build compiles, so a changed tree rebuilds."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        for dirpath, dirnames, names in os.walk(base):
            dirnames[:] = sorted(d for d in dirnames if d != "target")
            files += [os.path.join(dirpath, n) for n in sorted(names)
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(deadline):
    """sbt build of engine + harness; returns the runtime classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD_DIR, "classpath-" + stamp[:16] + ".txt")
    if os.path.isfile(cp_file):
        with open(cp_file) as f:
            return f.read().strip()
    log("building engine and harness with sbt (first run in this checkout)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts = ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos] + opts
        env["SBT_OPTS"] = " ".join(opts + ["-Xmx2g"])
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        timeout=max(60, deadline - time.time()))
    out = proc.stdout.decode("utf-8", "replace")
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(out[-4000:])
        raise SystemExit("sbt build failed")
    os.makedirs(BUILD_DIR, exist_ok=True)
    for old in glob.glob(os.path.join(BUILD_DIR, "classpath-*.txt")):
        os.remove(old)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    return lines[-1].strip()


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, stdout=subprocess.PIPE,
                             stderr=subprocess.DEVNULL, timeout=10)
        return out.stdout.decode().strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def generate(workload, seed, work):
    """Generates the inputs; returns (inputs, truth, seconds)."""
    t = time.perf_counter()
    d = os.path.join(work, "input")
    if workload == "analyze_raw":
        inputs, truth = gen.gen_analyze(d, seed, pages=PAGES)
    else:
        inputs, truth = gen.gen_index(d, seed, **INDEX_SIZES)
    return inputs, truth, time.perf_counter() - t


def run_jvm(classpath, plan_path, work, deadline):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # -Xms = -Xmx, pre-touched: no heap growth and no first-touch page
    # faults inside the timed loop.
    # TieredStopAtLevel=1 (C1 only): a run lives about a minute, too short
    # for C2 to settle, and its compile storms made the timed operations
    # drift downwards at a pace set by host load; C1 code is ready after
    # the warm-up, so the timed operations are flat from the first one.
    cmd = ["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:+AlwaysPreTouch",
           "-XX:TieredStopAtLevel=1",
           "-Djava.io.tmpdir=" + tmp, "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main", plan_path]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "wb") as logf:
        proc = subprocess.Popen(cmd, cwd=work, stdout=logf, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = None
    return rc, log_path


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    started = time.time()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        raise SystemExit("perfbench: %s holds no engine sources (build.sbt, src/main/scala/graft)"
                         % ROOT)
    classpath = build(started + 850)
    run_started = time.time()
    deadline = run_started + RUN_LIMIT_S

    run_id = "%s-%d-%d" % (args.workload, args.seed, os.getpid())
    work = os.path.join(HERE, ".work", run_id)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        inputs, truth, gen_s = generate(args.workload, args.seed, work)
        plan = {
            "workload": args.workload, "seconds": args.seconds, "trace": bool(args.trace),
            "run_id": run_id, "cores": metrics.cores(), "work": work,
            "result": os.path.join(work, "result.json"),
        }
        if args.workload == "analyze_raw":
            plan["analyze"] = dict(inputs, min_count=gen.MIN_COUNT)
        else:
            plan["index"] = dict(inputs, dims=gen.DIMS)
            plan["truth"] = {k: truth[k] for k in
                             ("doc_survivors", "vec_survivors", "vec_survivors_after_wave")}
        plan_path = os.path.join(work, "plan.json")
        with open(plan_path, "w") as f:
            json.dump(plan, f)
        rc, log_path = run_jvm(classpath, plan_path, work, deadline)
        if rc is None or not os.path.isfile(plan["result"]):
            with open(log_path, "rb") as f:
                sys.stderr.write(f.read()[-6000:].decode("utf-8", "replace"))
            raise SystemExit("perfbench: the JVM %s" % (
                "ran past the time limit" if rc is None else "exited %s without a result" % rc))
        with open(plan["result"]) as f:
            result = json.load(f)
        if rc != 0 or "error" in result or result.get("failed"):
            with open(log_path, "rb") as f:
                sys.stderr.write(f.read()[-6000:].decode("utf-8", "replace"))
        report = metrics.evaluate(args.workload, bool(args.trace), result, truth, inputs,
                                  work, gen_s)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    report["settings"].update({
        "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "git_commit": git_commit(), "heap": HEAP, "wall_s": round(time.time() - run_started, 3),
    })
    failed_checks = [c for c in report["checks"] if not c["ok"]]
    for c in failed_checks:
        log("CHECK FAILED %s: %s" % (c["name"], c.get("detail", "")))
    detail = {"workload": args.workload, "figures": report["figures"],
              "settings": report["settings"], "checks": report["checks"]}
    if args.trace:
        detail["spans"] = result.get("spans", [])
    print(json.dumps(detail, sort_keys=True))
    correct = not failed_checks and "error" not in result
    print(json.dumps({
        "correct": correct,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": report["metrics"],
    }, sort_keys=True))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
