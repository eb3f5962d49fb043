"""Tests for the benchmark's own code: generators, ground truth, checks.

    python3 -m unittest discover -s perfbench/tests
"""

import hashlib
import json
import os
import re
import shutil
import sys
import tempfile
import unittest
from datetime import datetime

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import metrics  # noqa: E402

TS = re.compile(r"^(\d{4})-(\d{2})-(\d{2})T(\d{2}):(\d{2}):(\d{2})\.(\d{1,6})Z$")
PREFIXES = ("SELECT", "select", "BEGIN BATCH", "begin batch", "INSERT", "insert",
            "DELETE", "delete", "UPDATE", "update")


def classify(source):
    """The reference's skip rules, written out independently of gen.py:
    returns the skip class of one hit, or (minute, duration) for an event."""
    msg = source.get("message") or source.get("@message")
    if "Query too slow" not in msg:
        return "prefiltered"
    p = msg.find("Query too slow, took ")
    pos_ms = msg.find(" ms: ", p) if p >= 0 else -1
    if pos_ms < 0 or pos_ms + 5 >= len(msg):
        return "not_slow_query"
    m = TS.match(source["@timestamp"])
    try:
        if not m:
            raise ValueError
        datetime(*[int(x) for x in m.groups()[:6]])
    except ValueError:
        return "bad_timestamp"
    duration = msg[p + 21:pos_ms].strip()
    if not re.match(r"^[+-]?\d+$", duration):
        return "bad_duration"
    rest = msg[pos_ms + 5:]
    if rest.startswith("["):
        rest = rest[rest.index("]") + 2:]
    if not rest.startswith(PREFIXES):
        return "no_processor"
    for marker in (" FROM ", " from "):
        if marker in rest and rest.startswith(("SELECT", "select")):
            table = rest.split(marker, 1)[1].split(" ")[0].rstrip(";")
            if table.count(".") > 1:
                return "no_processor"
    ts = source["@timestamp"]
    return ts[:10] + " " + ts[11:16], int(duration)


def read_jsonl(path):
    with open(path) as f:
        return [json.loads(line) for line in f]


def tally(page_files):
    counts, volume = {}, {}
    for path in page_files:
        with open(path) as f:
            hits = json.load(f)["responses"][0]["hits"]["hits"]
        for h in hits:
            c = classify(h["_source"])
            if isinstance(c, tuple):
                counts["events"] = counts.get("events", 0) + 1
                n, d = volume.get(c[0], (0, 0))
                volume[c[0]] = (n + 1, d + c[1])
            else:
                counts[c] = counts.get(c, 0) + 1
    return counts, volume



def tree_digest(path):
    h = hashlib.sha256()
    for dirpath, dirnames, names in os.walk(path):
        dirnames.sort()
        for n in sorted(names):
            p = os.path.join(dirpath, n)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()

class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def _dir(self, name):
        return os.path.join(self.tmp, name)

    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        for fn, kw in ((gen.gen_analyze, {"pages": 1, "hits_per_page": 500}),
                       (gen.gen_index, {"docs": 200, "vectors": 200})):
            fn(self._dir("a"), 7, **kw)
            fn(self._dir("b"), 7, **kw)
            fn(self._dir("c"), 8, **kw)
            a, b, c = (tree_digest(self._dir(x)) for x in "abc")
            self.assertEqual(a, b, fn.__name__)
            self.assertNotEqual(a, c, fn.__name__)
            for x in "abc":
                shutil.rmtree(self._dir(x))

    def test_hand_checked_fixture(self):
        # seed 122, 16 hits: read through by hand; hit 1 has a multi-dot
        # table, hit 3 duration "n/a", hit 10 a space instead of 'T',
        # hit 12 no "took ... ms: ", hit 13 is a compaction line
        _, truth = gen.gen_analyze(self.tmp, 122, pages=1, hits_per_page=16)
        self.assertEqual(
            {k: v for k, v in truth.items() if k != "volume"},
            {"raw_hits": 16, "hits": 15, "events": 11, "prefiltered": 1,
             "not_slow_query": 1, "bad_timestamp": 1, "bad_duration": 1,
             "no_processor": 1})
        self.assertEqual(truth["volume"]["2026-08-18 10:02"], [2, 3391 + 2297])
        self.assertEqual(sum(c for c, _ in truth["volume"].values()), 11)
        self.assertEqual(gen.expected_volume_rows(truth, 2),
                         [["2026-08-18 10:02", "2", "5688", "2844"]])

    def test_truth_matches_an_independent_classification(self):
        inputs, truth = gen.gen_analyze(self.tmp, 3, pages=1)
        counts, volume = tally(inputs["pages"])
        for c in ("prefiltered", "not_slow_query", "bad_timestamp", "bad_duration",
                  "no_processor", "events"):
            self.assertEqual(counts.get(c, 0), truth[c], c)
            self.assertGreater(truth[c], 0, c)
        self.assertEqual({k: list(v) for k, v in volume.items()}, truth["volume"])

    def test_index_survivors(self):
        files, truth = gen.gen_index(self.tmp, 4, docs=300, vectors=300)
        deleted = {r["doc_id"] for r in read_jsonl(files["docs_delete"])}
        self.assertEqual(set(truth["doc_survivors"]) & deleted, set())
        self.assertEqual(len(truth["doc_survivors"]) + len(deleted), truth["docs"])
        live = gen.load_vectors(files["emb_live"])
        self.assertEqual(sorted(live), truth["vec_survivors"])
        lex_ids = [r["query_id"] for r in read_jsonl(files["lex_batch"])]
        self.assertEqual(lex_ids, truth["doc_survivors"][:len(lex_ids)])


class CheckTest(unittest.TestCase):
    """The checks pass on right answers and name a wrong one."""

    def setUp(self):
        self.tmp = tempfile.mkdtemp()
        _, self.truth = gen.gen_analyze(os.path.join(self.tmp, "in"), 122, pages=1,
                                        hits_per_page=16)
        out = os.path.join(self.tmp, "out")
        for report, header in metrics.CSV_HEADERS.items():
            os.makedirs(os.path.join(out, report))
            rows = [header]
            if report == "volume":
                rows += gen.expected_volume_rows(self.truth, 1)
            with open(os.path.join(out, report, "part-00000.csv"), "w") as f:
                f.write("".join(",".join(r) + "\n" for r in rows))
        observed = {c: self.truth[c] for c in metrics.SKIP_CLASSES}
        observed.update(parsed=self.truth["events"], processed_events=self.truth["events"])
        self.result = {"observed": observed, "out_dir": out}

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def failed(self, truth, min_count=1):
        checks = []
        metrics.check_analyze(self.result, truth, checks, min_count)
        return [c["name"] for c in checks if not c["ok"]]

    def test_right_answers_pass(self):
        self.assertEqual(self.failed(self.truth), [])
        # the fixture's minutes all hold fewer than 2 events but one
        self.assertEqual(self.failed(self.truth, min_count=2), ["volume_csv"])

    def test_dropping_one_event_from_volume_fails(self):
        truth = json.loads(json.dumps(self.truth))
        n, d = truth["volume"]["2026-08-18 10:02"]
        truth["volume"]["2026-08-18 10:02"] = [n - 1, d - 2297]
        self.assertEqual(self.failed(truth), ["volume_csv"])

    def test_wrong_skip_count_fails(self):
        truth = dict(self.truth, bad_duration=self.truth["bad_duration"] + 1)
        self.assertEqual(self.failed(truth), ["skipped.bad_duration"])

    def _vector_answer(self, ids_of):
        files, truth = gen.gen_index(os.path.join(self.tmp, "ix"), 4, docs=100, vectors=100)
        live = truth["vec_survivors"]
        probe = live[0]
        best = metrics._cosine_top10(gen.load_vectors(files["emb_live"]), live, probe)
        ids = ids_of(live, best, sorted(set(range(110)) - set(live)))
        result = {"singles": [{"arm": "pq", "q": str(probe), "ids": ids}], "batches": []}
        checks = []
        metrics.recall(result, truth, files, checks)
        return [c["name"] for c in checks if not c["ok"]]

    def test_exact_answer_passes(self):
        self.assertEqual(self._vector_answer(lambda live, best, dead: best), [])

    def test_retracted_id_in_an_answer_fails(self):
        self.assertEqual(self._vector_answer(lambda live, best, dead: [dead[0]] + best[:9]),
                         ["answers_live_only"])

    def test_live_ids_that_are_not_neighbours_fail_the_recall_floor(self):
        def far(live, best, dead):
            return [i for i in reversed(live) if i not in best][:10]
        self.assertEqual(self._vector_answer(far), ["recall_at_10.pq"])


class MetricTest(unittest.TestCase):
    def test_benchmark_json_names_what_the_runs_print(self):
        root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            bench = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in bench["end_to_end"]}, metrics.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in bench["per_layer"]}, metrics.PER_LAYER)

    def test_tail_percentile_needs_ten_samples_beyond(self):
        self.assertEqual(metrics.tail([1.0, 3.0, 2.0]), (3.0, "max"))
        self.assertEqual(metrics.tail([float(i) for i in range(1, 51)]), (40.0, "p80"))
        self.assertEqual(metrics.tail([float(i) for i in range(1, 1001)]), (990.0, "p99"))

    def test_per_layer_metrics_cover_every_name(self):
        m = metrics.layer_metrics("analyze_raw", {"spans": [], "samples": {}}, {})
        self.assertEqual(set(m), set(metrics.PER_LAYER))


if __name__ == "__main__":
    unittest.main()
