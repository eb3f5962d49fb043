"""Metrics and correctness checks over one run's JVM result.

`evaluate` turns the result file the harness writes into
- the end-to-end metrics (untraced run) or per-layer metrics (traced run)
  that `BENCHMARK.json` names;
- the workload's named figures with their units;
- the checks against the generator's ground truth and against
  independent computations (brute-force cosine for recall).
"""

import csv
import glob
import math
import os
import statistics

import gen

# the five reports and the headers the reference writes
CSV_HEADERS = {
    "slow_queries": ["Count", "Duration", "Avg. Duration", "Query"],
    "slow_primary_keys": ["Count", "Duration", "Avg. Duration", "Primary Key", "Query"],
    "primary_keys": ["Count", "Duration", "Avg. Duration", "Keyspace", "Column Family",
                     "Primary Key"],
    "volume": ["Time", "Count", "Duration", "Avg. Duration"],
    "volume_top_n": ["Time", "Count", "Duration", "Avg. Duration", "Primary Key", "Query"],
}
SKIP_CLASSES = ("not_slow_query", "bad_timestamp", "bad_duration", "no_processor")
LAYERS = ("ingest", "parse", "analyze", "report", "storage", "build", "maintain", "serve")
VECTOR_ARMS = ("pq", "sq8", "graph")
# Lowest recall@10 each vector tier may show, averaged over a run's
# probes. Well below the lowest run seen (pq 0.5, sq8 0.938 over 50
# index_serve runs; graph 1.0), because a run averages as few as four pq
# and six graph probes; ten live ids drawn at random from the probed
# cells score about 0.08.
RECALL_FLOOR = {"pq": 0.25, "sq8": 0.85, "graph": 0.25}

# per-layer metric -> unit, in the order BENCHMARK.json lists them
PER_LAYER = {"ingest.read_s": "s", "ingest.tasks": "count", "ingest.input_bytes": "bytes",
             "ingest.hits": "count", "parse.lex_s": "s", "parse.enrich_s": "s",
             "parse.events": "count"}
PER_LAYER.update({"parse.skipped." + c: "count" for c in SKIP_CLASSES})
PER_LAYER["parse.events_per_hit"] = "ratio"
PER_LAYER.update({"analyze.%s_s" % r: "s" for r in
                  ("query", "query_pk", "primary_key", "volume", "volume_top")})
PER_LAYER.update({"analyze.shuffle_bytes": "bytes", "analyze.jobs": "count",
                  "report.materialize_s": "s", "report.materialize_bytes": "bytes",
                  "report.csv_s": "s", "report.jobs": "count"})
PER_LAYER.update({"build.%s_s" % b: "s" for b in ("lex", "vec", "graph")})
PER_LAYER.update({"build.jobs": "count", "build.shuffle_bytes": "bytes"})
PER_LAYER.update({"maintain.%s_s" % m: "s" for m in ("update", "delete", "compact", "graph_append")})
PER_LAYER.update({"maintain.compact_jobs": "count", "maintain.bytes_rewritten": "bytes",
                  "storage.commits": "count", "storage.attempts_lost": "count",
                  "storage.manifest_versions": "count", "storage.vacuum_s": "s",
                  "storage.live_files": "count", "storage.live_bytes": "bytes"})
PER_LAYER.update({"serve.%s_ms_p50" % a: "ms" for a in ("lex",) + VECTOR_ARMS})
PER_LAYER.update({"serve.lex_batch_s": "s", "serve.vec_batch_s": "s",
                  "serve.jobs_per_query": "count", "serve.rows_scanned_per_result": "ratio"})
PER_LAYER.update({"serve.recall_at_10." + a: "ratio" for a in VECTOR_ARMS})
for _l in LAYERS:
    PER_LAYER.update({_l + ".gc_s": "s", _l + ".spill_bytes": "bytes", _l + ".tasks": "count"})
PER_LAYER["trace.overhead_s"] = "s"

END_TO_END = {"setup_s": "s", "op_s_p50": "s", "work_per_s": "1/s", "heap_mb_peak": "MB"}

# Median seconds of one calibration block (perfbench.Calibration) on the
# reference host, a 4-vCPU virtual machine. The time metrics are given in
# reference-host seconds: measured seconds times CALIB_REF_S over the
# run's median block.
CALIB_REF_S = 0.075


def cores():
    """Spark local threads: the machine's cores, at most 4."""
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, min(4, n))


def tail(values):
    """(value, percentile): the highest of p99/p95/p90/p80/p75 that has
    at least ten samples beyond it (nearest rank); the maximum when the
    sample count supports none of them."""
    s = sorted(values)
    n = len(s)
    for p in (99, 95, 90, 80, 75):
        if n * (100 - p) / 100.0 >= 10:
            return s[max(0, math.ceil(n * p / 100.0) - 1)], "p%d" % p
    return s[-1], "max"


def _check(checks, name, ok, detail=""):
    checks.append({"name": name, "ok": bool(ok), "detail": detail})


def _read_csv(out_dir, report):
    parts = sorted(glob.glob(os.path.join(out_dir, report, "part-*.csv")))
    if len(parts) != 1:
        return None
    with open(parts[0], newline="") as f:
        return list(csv.reader(f))


def check_analyze(result, truth, checks, min_count=gen.MIN_COUNT):
    """Skip classes, event count, CSV headers and the `volume` CSV."""
    obs = result.get("observed", {})
    for c in SKIP_CLASSES:
        _check(checks, "skipped." + c, obs.get(c) == truth[c],
               "observed %s, generated %s" % (obs.get(c), truth[c]))
    _check(checks, "events", obs.get("parsed") == truth["events"],
           "observed %s, generated %s" % (obs.get("parsed"), truth["events"]))
    _check(checks, "processed_events", obs.get("processed_events") == truth["events"],
           "materialized %s, generated %s" % (obs.get("processed_events"), truth["events"]))
    out_dir = result.get("out_dir", "")
    for report, header in CSV_HEADERS.items():
        rows = _read_csv(out_dir, report)
        _check(checks, "csv_header." + report, rows is not None and rows[:1] == [header],
               "missing" if rows is None else "header %s" % (rows[:1],))
    rows = _read_csv(out_dir, "volume")
    expected = gen.expected_volume_rows(truth, min_count)
    got = rows[1:] if rows else []
    diff = [("expected", e) for e in expected if e not in got][:3] + \
           [("unexpected", g) for g in got if g not in expected][:3]
    _check(checks, "volume_csv", got == expected,
           "%d rows expected, %d written; %s" % (len(expected), len(got), diff))


def _cosine_top10(vectors, live_ids, probe):
    """Brute-force top-10 live ids by cosine to the probe (probe excluded;
    ties to the lower id)."""
    q = vectors[probe]
    qn = math.sqrt(sum(x * x for x in q)) or 1.0
    scored = []
    for i in live_ids:
        if i == probe:
            continue
        v = vectors[i]
        vn = math.sqrt(sum(x * x for x in v)) or 1.0
        scored.append((-sum(a * b for a, b in zip(q, v)) / (qn * vn), i))
    scored.sort()
    return [i for _, i in scored[:10]]


def recall(result, truth, inputs, checks):
    """recall@10 per vector tier, over single and batch answers, against
    brute-force cosine over the live vectors; checks each tier's mean
    against its floor in RECALL_FLOOR, and that no answer holds a
    retracted id or the probe itself."""
    vectors = gen.load_vectors(inputs["emb_live"])
    live = truth["vec_survivors"]
    live_set = set(live)
    docs_live = set(truth["doc_survivors"])
    memo, per_tier = {}, {a: [] for a in VECTOR_ARMS}
    bad = []

    def score(arm, probe, ids):
        if probe not in memo:
            memo[probe] = set(_cosine_top10(vectors, live, probe))
        per_tier[arm].append(len(memo[probe] & set(ids)) / 10.0)
        if any(i not in live_set or i == probe for i in ids):
            bad.append((arm, probe))

    for s in result.get("singles", []):
        if s["arm"] == "lex":
            if any(i not in docs_live for i in s["ids"]):
                bad.append(("lex", s["q"]))
        else:
            score(s["arm"], int(s["q"]), s["ids"])
    for b in result.get("batches", []):
        if b["arm"] in VECTOR_ARMS:
            for probe, ids in b["answers"].items():
                score(b["arm"], int(probe), ids)
        else:
            for qid, ids in b["answers"].items():
                if any(i not in docs_live for i in ids):
                    bad.append(("lex_batch", qid))
    _check(checks, "answers_live_only", not bad, "retracted or probe ids in %s" % bad[:5])
    by_tier = {a: statistics.mean(v) for a, v in per_tier.items() if v}
    for a, r in sorted(by_tier.items()):
        _check(checks, "recall_at_10." + a, r >= RECALL_FLOOR[a],
               "%.3f, floor %.2f" % (r, RECALL_FLOOR[a]))
    return by_tier


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _dur(span):
    return (span["end_ns"] - span["start_ns"]) / 1e9


def layer_metrics(workload, result, recall_by_tier):
    """Per-layer metrics from the traced run's spans (per traced
    operation; 0 where the workload does not exercise the layer)."""
    spans = [s for s in result.get("spans", []) if s["end_ns"] >= 0 or s["id"] < 0]
    samples = result.get("samples", {})
    m = {k: 0.0 for k in PER_LAYER}
    if workload == "index_serve":
        n_ops = 1
    else:
        n_ops = max(1, sum(1 for s in spans if s["name"] == "op"))

    def key(s):
        return s["name"].split("/")[0]

    def total(pred, field=None, count=None):
        acc = 0.0
        for s in spans:
            if s["id"] >= 0 and pred(s):
                if field == "dur":
                    acc += _dur(s)
                elif field == "gc":
                    acc += s["gc_ms"] / 1000.0
                else:
                    acc += s["counts"].get(count, 0)
        return acc / n_ops

    def named(name):
        return lambda s: key(s) == name

    def layer(l):
        return lambda s: key(s).split(".")[0] == l

    m["ingest.read_s"] = total(named("ingest.read"), "dur")
    m["ingest.input_bytes"] = total(named("ingest.read"), count="input_bytes")
    m["ingest.hits"] = total(named("ingest.read"), count="hits")
    m["parse.lex_s"] = total(named("parse.lex"), "dur")
    m["parse.enrich_s"] = total(named("parse.enrich"), "dur")
    m["parse.events"] = total(named("parse.observe"), count="events")
    for c in SKIP_CLASSES[:3]:
        m["parse.skipped." + c] = total(named("parse.observe"), count="observed." + c)
    m["parse.skipped.no_processor"] = total(named("parse.quality"),
                                            count="quality.no_processor")
    if m["ingest.hits"]:
        m["parse.events_per_hit"] = m["parse.events"] / m["ingest.hits"]
    for r in ("query", "query_pk", "primary_key", "volume", "volume_top"):
        m["analyze.%s_s" % r] = total(named("analyze." + r), "dur")
    m["analyze.shuffle_bytes"] = total(layer("analyze"), count="shuffle_write_bytes")
    m["analyze.jobs"] = total(layer("analyze"), count="jobs")
    m["report.materialize_s"] = total(named("report.materialize"), "dur")
    m["report.materialize_bytes"] = total(named("report.materialize"), count="output_bytes")
    m["report.csv_s"] = total(named("report.csv"), "dur")
    m["report.jobs"] = total(layer("report"), count="jobs")
    for b in ("lex", "vec", "graph"):
        m["build.%s_s" % b] = total(named("build." + b), "dur")
    m["build.jobs"] = total(layer("build"), count="jobs")
    m["build.shuffle_bytes"] = total(layer("build"), count="shuffle_write_bytes")
    for x in ("update", "delete", "compact", "graph_append"):
        m["maintain.%s_s" % x] = total(named("maintain." + x), "dur")
    m["maintain.compact_jobs"] = total(named("maintain.compact"), count="jobs")
    m["maintain.bytes_rewritten"] = total(named("maintain.compact"), count="output_bytes")
    for x in ("commits", "attempts_lost", "manifest_versions", "live_files", "live_bytes"):
        m["storage." + x] = total(named("storage.audit"), count=x)
    m["storage.vacuum_s"] = total(named("storage.vacuum"), "dur")

    singles = [s for s in spans if s["id"] >= 0 and key(s) in
               ("serve.lex", "serve.pq", "serve.sq8", "serve.graph")]
    for a in ("lex",) + VECTOR_ARMS:
        m["serve.%s_ms_p50" % a] = 1000 * _median([_dur(s) for s in singles
                                                   if key(s) == "serve." + a])
    for b in ("lex", "vec"):
        calls = [_dur(s) for s in spans if key(s) == "serve.%s_batch" % b]
        m["serve.%s_batch_s" % b] = statistics.mean(calls) if calls else 0.0
    if singles:
        m["serve.jobs_per_query"] = sum(s["counts"].get("jobs", 0) for s in singles) / len(singles)
        results = sum(s["counts"].get("results", 0) for s in singles)
        if results:
            m["serve.rows_scanned_per_result"] = sum(
                s["counts"].get("input_rows", 0) for s in singles) / results
    if workload == "index_serve":
        for a in VECTOR_ARMS:
            m["serve.recall_at_10." + a] = recall_by_tier.get(a, 0.0)
    for l in LAYERS:
        m[l + ".gc_s"] = total(layer(l), "gc")
        m[l + ".spill_bytes"] = total(layer(l), count="spill_bytes")
        m[l + ".tasks"] = total(layer(l), count="tasks")
    m["trace.overhead_s"] = _median(samples.get("op_traced", [])) - _median(samples.get("op", []))
    return m


def host_factor(samples):
    """(factor, median block seconds): reference-host seconds per
    measured second, from the run's calibration blocks."""
    calib = samples.get("calib", [])
    if not calib:
        return 1.0, 0.0
    c = statistics.median(calib)
    return CALIB_REF_S / c, c


def evaluate(workload, traced, result, truth, inputs, work, gen_s):
    checks = [dict(c) for c in result.get("checks", [])]
    samples = result.get("samples", {})
    ops = samples.get("op", [])
    factor, calib_s = host_factor(samples)
    figures = {}
    setup = result["session_s"] + result.get("prepare_s", 0.0) + \
        result.get("index_build_s", 0.0) + result.get("warmup_s", 0.0)
    op_tail, tail_pct = tail(ops) if ops else (0.0, "none")
    recall_by_tier = {}

    if workload == "analyze_raw":
        check_analyze(result, truth, checks)
        work_per_s = truth["events"] * len(ops) / sum(ops) if ops else 0.0
        figures.update({
            "analyze_s_p50": (_median(ops), "s"),
            "analyze_s_tail": (op_tail, "s"),
            "analyze_events_per_s": (work_per_s, "events/s"),
        })
    else:
        recall_by_tier = recall(result, truth, inputs, checks)
        # queries per second of each batch round (one call per arm); the
        # median round
        rounds = {}
        for b in result.get("batches", []):
            q, sec = rounds.get(b["round"], (0, 0.0))
            rounds[b["round"]] = (q + b["queries"], sec + b["s"])
        per_round = [q / sec for q, sec in rounds.values() if sec]
        work_per_s = _median(per_round)
        singles = result.get("singles", [])
        for a in ("lex", "pq", "sq8"):
            figures["search_ms_p50." + a] = (
                1000 * _median([x["s"] for x in singles if x["arm"] == a]), "ms")
        figures.update({
            "cycle_s_p50": (_median(ops), "s"),
            "cycle_s_tail": (op_tail, "s"),
            "batch_queries_per_s": (work_per_s, "queries/s"),
            "batch_round_samples_s": ([round(sec, 4) for _, sec in rounds.values()], "s"),
            "recall_at_10": (recall_by_tier, "ratio"),
            "repeat_share": (truth["repeat_share"], "ratio"),
            "index_build_s": (result.get("index_build_s", 0.0), "s"),
        })
    attempted = max(1, result["attempted"])
    heap_peak = max(result.get("heap_mb_after_op", []), default=0.0)
    figures.update({
        "setup_s": (setup, "s"),
        "host_factor": (factor, "ratio"),
        "calib_s_p50": (calib_s, "s"),
        "calib_samples_s": ([round(x, 4) for x in samples.get("calib", [])], "s"),
        "heap_mb_gc_max": (max(heap_peak, result.get("heap_mb_gc_max", 0.0)), "MB"),
        "failed_ratio": (result["failed"] / attempted, "ratio"),
        "samples": (len(ops), "count"),
        "session_s": (result["session_s"], "s"),
        "warmup_s": (result.get("warmup_s", 0.0), "s"),
        "generate_s": (gen_s, "s"),
        "op_samples_s": ([round(x, 4) for x in ops], "s"),
        "op_cpu_samples_s": ([round(x, 4) for x in samples.get("op.cpu", [])], "s"),
        "tail_percentile": (tail_pct, ""),
    })
    if result["failed"]:
        _check(checks, "no_failed_operations", False, "%d of %d operations failed" % (
            result["failed"], result["attempted"]))

    if traced:
        lm = layer_metrics(workload, result, recall_by_tier)
        if workload == "analyze_raw":
            # the staged operation's own counts against the ground truth
            for c in SKIP_CLASSES:
                v = lm["parse.skipped." + c]
                _check(checks, "traced.skipped." + c, v == truth[c],
                       "traced %s, generated %s" % (v, truth[c]))
            _check(checks, "traced.events", lm["parse.events"] == truth["events"],
                   "traced %s, generated %s" % (lm["parse.events"], truth["events"]))
        metrics_out = {k: {"value": lm[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        values = {"setup_s": setup * factor, "op_s_p50": _median(ops) * factor,
                  "work_per_s": work_per_s / factor, "heap_mb_peak": heap_peak}
        metrics_out = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    settings = {k: result.get(k) for k in ("cores", "spark_master", "spark_version",
                                           "max_heap_mb")}
    settings["nproc"] = os.cpu_count()
    return {
        "metrics": metrics_out,
        "figures": {k: {"value": v, "unit": u} for k, (v, u) in figures.items()},
        "settings": settings,
        "checks": checks,
    }
