#!/usr/bin/env python3
"""A/B the repo benchmark: a parent commit against the working tree.

Usage:
    python3 scripts/perf_ab.py --workload analyze_raw [--parent HEAD]
        [--pairs 10] [--seeds 1,2,...] [--seconds 8]

The parent is checked out into a throwaway `git worktree` under a temp
directory (removed on exit), so each side builds its own classes from
its own sources: a copied `target/` would carry the other checkout's
incremental-compile state, and a rebuild in one checkout would then
delete the other's classes.

Each pair runs `perfbench/run.py --trace 0` once in the parent and once
in the working tree on the same seed, alternating which side goes first
(pair 0 runs the parent first). For every end-to-end metric in
BENCHMARK.json the script prints each side's median and quartiles
(`statistics.quantiles(n=4)`), the change/parent ratio of the medians,
the pairs the change won (ties count for neither side), whether the
change's median stays within the metric's bound, and whether a gain
claim holds: at least nine tenths of the pairs won and the medians
apart by more than the distance between the parent's quartiles. The
last line is the same as JSON, with every run's metrics.
"""

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def log(msg):
    print("[perf_ab] " + msg, file=sys.stderr, flush=True)


def git(*args):
    return subprocess.run(["git", "-C", ROOT] + list(args), check=True,
                          stdout=subprocess.PIPE, stderr=subprocess.PIPE).stdout.decode().strip()


def bench(checkout, workload, seed, seconds):
    """One untraced run; returns its result line as a dict, or None."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE)
    lines = [l for l in proc.stdout.decode("utf-8", "replace").splitlines() if l.strip()]
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        sys.stderr.write(proc.stderr.decode("utf-8", "replace")[-4000:])
        return None
    result["exit"] = proc.returncode
    return result


def quartiles(values):
    if len(values) < 2:
        return values[0], values[0]
    q = statistics.quantiles(values, n=4)
    return q[0], q[2]


def summarize(metric, pairs):
    name, better, bound = metric["name"], metric["better"], metric["bound"]
    sign = 1 if better == "lower" else -1
    par = [p["parent"]["metrics"][name]["value"] for p in pairs]
    chg = [p["change"]["metrics"][name]["value"] for p in pairs]
    pm, cm = statistics.median(par), statistics.median(chg)
    pq1, pq3 = quartiles(par)
    cq1, cq3 = quartiles(chg)
    wins = sum(1 for a, b in zip(par, chg) if sign * (b - a) < 0)
    within = sign * (cm - pm) <= bound * abs(pm)
    gain = (wins >= 0.9 * len(pairs) and sign * (pm - cm) > 0
            and abs(pm - cm) > pq3 - pq1)
    return {"metric": name, "better": better, "bound": bound,
            "parent": {"median": pm, "q1": pq1, "q3": pq3},
            "change": {"median": cm, "q1": cq1, "q3": cq3},
            "ratio": cm / pm if pm else None, "wins": wins, "pairs": len(pairs),
            "within_bound": within, "gain": gain}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--parent", default="HEAD", help="git ref of the parent (default HEAD)")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seeds", help="comma-separated seeds, one per pair (default 1..pairs)")
    ap.add_argument("--seconds", type=float, default=8)
    args = ap.parse_args(argv)
    seeds = ([int(s) for s in args.seeds.split(",")] if args.seeds
             else list(range(1, args.pairs + 1)))
    if len(seeds) < args.pairs:
        raise SystemExit("perf_ab: %d seeds for %d pairs" % (len(seeds), args.pairs))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        e2e = json.load(f)["end_to_end"]

    commit = git("rev-parse", "--verify", args.parent + "^{commit}")
    # a terminated run still removes its worktree (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    tmp = tempfile.mkdtemp(prefix="perf_ab-")
    parent_dir = os.path.join(tmp, "parent")
    try:
        git("worktree", "add", "--detach", parent_dir, commit)
        sides = {"parent": parent_dir, "change": ROOT}
        pairs, dropped = [], []
        for i, seed in enumerate(seeds[:args.pairs]):
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            pair = {"seed": seed, "first": order[0]}
            for side in order:
                log("pair %d seed %d: %s" % (i, seed, side))
                pair[side] = bench(sides[side], args.workload, seed, args.seconds)
                log(json.dumps(pair[side], sort_keys=True))
            if pair["parent"] is None or pair["change"] is None:
                dropped.append(pair)
                log("pair %d dropped: a run printed no result line" % i)
            else:
                pairs.append(pair)
    finally:
        subprocess.run(["git", "-C", ROOT, "worktree", "remove", "--force", parent_dir],
                       stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
        shutil.rmtree(tmp, ignore_errors=True)
        subprocess.run(["git", "-C", ROOT, "worktree", "prune"])
    if not pairs:
        raise SystemExit("perf_ab: no pair finished")

    rows = [summarize(m, pairs) for m in e2e]
    failed = {side: "%d/%d" % (sum(p[side]["failed"] for p in pairs),
                               sum(p[side]["attempted"] for p in pairs))
              for side in ("parent", "change")}
    incorrect = {side: sum(1 for p in pairs if not p[side]["correct"])
                 for side in ("parent", "change")}
    print("workload %s, parent %s, %d pairs (seeds %s), %d dropped"
          % (args.workload, commit[:12], len(pairs),
             ",".join(str(p["seed"]) for p in pairs), len(dropped)))
    print("%-13s %-30s %-30s %7s %6s %7s %5s" % (
        "metric", "parent median [q1, q3]", "change median [q1, q3]", "ratio", "wins",
        "bound", "gain"))
    for r in rows:
        fmt = lambda s: "%.5g [%.5g, %.5g]" % (s["median"], s["q1"], s["q3"])
        print("%-13s %-30s %-30s %7.3f %6s %7s %5s" % (
            r["metric"], fmt(r["parent"]), fmt(r["change"]), r["ratio"] or 0,
            "%d/%d" % (r["wins"], r["pairs"]), "ok" if r["within_bound"] else "WORSE",
            "yes" if r["gain"] else "no"))
    print("failed operations: parent %s, change %s; runs with a failed check: "
          "parent %d, change %d" % (failed["parent"], failed["change"],
                                    incorrect["parent"], incorrect["change"]))
    print(json.dumps({"workload": args.workload, "parent": commit, "metrics": rows,
                      "failed": failed, "incorrect_runs": incorrect,
                      "pairs": pairs, "dropped": dropped}, sort_keys=True))
    return 0


if __name__ == "__main__":
    sys.exit(main())
