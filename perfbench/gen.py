"""Seeded input generators for the three benchmark workloads.

Every input the program sees is written here from one integer seed:
Kibana `_msearch` page files with a CQL schema, tags and query patterns
(`analyze_raw`), and a Zipf text corpus, clustered embeddings and query
streams (`index_maintain`, `index_serve`). Each generator also returns
its ground truth, computed from the generator's own choices and never
from the program's outputs:

- hit counts and each skip-class count, parsed-event count, and the
  per-minute event counts and duration sums behind the `volume` report;
- which document and vector ids survive the lifecycle's `delete`.

The same seed always writes byte-identical files.
"""

import json
import math
import os
import random

# One `_msearch` page, as the real downloader fetches it.
HITS_PER_PAGE = 10000

# Share of hits in each skip class, plus hits the reader's substring
# prefilter drops before parsing.
SKIP_SHARES = {
    "prefiltered": 0.03,
    "not_slow_query": 0.02,
    "bad_timestamp": 0.02,
    "bad_duration": 0.02,
    "no_processor": 0.03,
}

MINUTES = 180

# the `--min-count` the benchmark passes: the reports' HAVING threshold
MIN_COUNT = 5

# The CQL schema: `users` lives in two keyspaces, so its keyspace
# guess hits the `unknown` sentinel unless a tag resolves it.
SCHEMA_CQL = """CREATE TABLE ks_app.users (
    user_id text,
    name text,
    PRIMARY KEY (user_id, name)
) WITH comment = '';

CREATE TABLE ks_audit.users (
    user_id text,
    ts timestamp,
    PRIMARY KEY (user_id, ts)
) WITH comment = '';

CREATE TABLE ks_app.orders (
    order_id text PRIMARY KEY,
    item text
) WITH comment = '';

CREATE TABLE ks_audit.sessions (
    sid text,
    shard int,
    seen timestamp,
PRIMARY KEY ((sid, shard), seen)
) WITH comment = '';

CREATE TABLE ks_ref.events (
    event_id text,
    kind text,
    PRIMARY KEY (event_id, kind)
) WITH comment = '';
"""

TAGS = {"app-web": "ks_app", "app-audit": "ks_audit"}

PATTERNS = [
    {"start": "SELECT kind FROM ks_ref.events WHERE", "parameters": ["event_id"]},
]

TAG_CHOICES = [["app-web"], ["app-audit"], ["prod"], [], ["prod", "app-web"]]


class Zipf:
    """Zipf(s) over ranks 0..n-1 by inverse-CDF lookup."""

    def __init__(self, n, s):
        weights = [1.0 / (r + 1) ** s for r in range(n)]
        total = sum(weights)
        acc, self.cdf = 0.0, []
        for w in weights:
            acc += w / total
            self.cdf.append(acc)
        self.cdf[-1] = 1.0

    def draw(self, rng):
        u = rng.random()
        lo, hi = 0, len(self.cdf) - 1
        while lo < hi:
            mid = (lo + hi) // 2
            if self.cdf[mid] < u:
                lo = mid + 1
            else:
                hi = mid
        return lo


def _ts(base_minute, minute, rng):
    """Kibana timestamp string inside the given minute (UTC)."""
    total = base_minute + minute
    day, rem = divmod(total, 24 * 60)
    hour, mm = divmod(rem, 60)
    sec = rng.randrange(60)
    micros = rng.randrange(1000000)
    return "2026-08-%02dT%02d:%02d:%02d.%06dZ" % (1 + day, hour, mm, sec, micros)


def _minute_key(ts):
    """The `volume` report's minute key for a timestamp string."""
    return ts[:10] + " " + ts[11:16]


def _statement(rng, pk_zipf):
    """One parseable statement as (query_with_bound_values_suffix).

    Covers all five statement kinds, upper- and lowercase forms, with
    and without bound values.
    """
    key = pk_zipf.draw(rng)
    kind = rng.randrange(10)
    if kind == 0:
        return "[1 bound values] SELECT * FROM ks_app.users WHERE user_id=?; [user_id:'u%d']" % key
    if kind == 1:
        # lowercase and unqualified: the keyspace comes from the tags
        # or stays at the `unknown` sentinel
        return "[1 bound values] select * from users where user_id=?; [user_id:'u%d']" % key
    if kind == 2:
        # no bound values: normalized through the --queries pattern
        return "SELECT kind FROM ks_ref.events WHERE event_id = 'e%d';" % key
    if kind == 3:
        return ("[2 bound values] INSERT INTO ks_app.orders (order_id, item) VALUES (?, ?); "
                "[order_id:'o%d', item:'i%d']" % (key, rng.randrange(50)))
    if kind == 4:
        return ("[2 bound values] insert into orders (order_id, item) values (?, ?); "
                "[order_id:'o%d', item:'i%d']" % (key, rng.randrange(50)))
    if kind == 5:
        return ("[2 bound values] SELECT * FROM ks_audit.sessions WHERE sid=? AND shard=?; "
                "[sid:'s%d', shard:'%d']" % (key, key % 8))
    if kind == 6:
        return "[1 bound values] UPDATE ks_audit.sessions SET seen=? WHERE sid='s%d'; [seen:'1']" % key
    if kind == 7:
        return "DELETE FROM ks_audit.sessions WHERE sid='s%d';" % key
    if kind == 8:
        return ("BEGIN BATCH INSERT INTO ks_app.orders (order_id, item) VALUES ('o%d', 'x'); "
                "APPLY BATCH;" % key)
    return "begin batch update ks_app.orders set item='y' where order_id='o%d'; apply batch;" % key


def _no_processor(rng):
    if rng.random() < 0.5:
        return "TRUNCATE ks_app.orders;"
    # a multi-dot table segment: the reference's 2-tuple unpack fails
    return "[1 bound values] SELECT * FROM a.b.c WHERE x=?; [x:'1']"


def _message(duration, stmt):
    return "WARN  [ScheduledTasks:1] MonitoringTask.java:173 - Query too slow, took %s ms: %s" % (
        duration, stmt)


def gen_analyze(out_dir, seed, pages=4, hits_per_page=HITS_PER_PAGE):
    """Write `pages` Kibana page files plus schema/tags/patterns.

    Returns (inputs, truth): file paths and the ground truth.
    """
    rng = random.Random(seed * 7919 + 1)
    os.makedirs(out_dir, exist_ok=True)
    pk_zipf = Zipf(5000, 1.1)
    minute_zipf = Zipf(MINUTES, 0.6)
    # shuffle which minutes are hot, so the heavy minutes move with the seed
    minute_order = list(range(MINUTES))
    rng.shuffle(minute_order)
    base_minute = rng.randrange(0, 20 * 24 * 60)
    classes = list(SKIP_SHARES)
    cuts, acc = [], 0.0
    for c in classes:
        acc += SKIP_SHARES[c]
        cuts.append(acc)

    truth = {"raw_hits": 0, "hits": 0, "events": 0, "prefiltered": 0,
             "not_slow_query": 0, "bad_timestamp": 0, "bad_duration": 0,
             "no_processor": 0}
    volume = {}
    files = []
    for p in range(pages):
        hits = []
        for _ in range(hits_per_page):
            u = rng.random()
            cls = "event"
            for c, cut in zip(classes, cuts):
                if u < cut:
                    cls = c
                    break
            minute = minute_order[minute_zipf.draw(rng)]
            ts = _ts(base_minute, minute, rng)
            duration = str(int(200 + rng.lognormvariate(7.0, 0.8)))
            stmt = _statement(rng, pk_zipf)
            if cls == "prefiltered":
                msg = "INFO  [CompactionExecutor:3] Compacted %d sstables" % rng.randrange(2, 9)
            elif cls == "not_slow_query":
                msg = ("WARN Query too slow, and it took a while"
                       if rng.random() < 0.5 else
                       "WARN Query too slow, took %s msec" % duration)
            elif cls == "bad_timestamp":
                ts = ts[:10] + " " + ts[11:] if rng.random() < 0.5 else ts[:5] + "13" + ts[7:]
                msg = _message(duration, stmt)
            elif cls == "bad_duration":
                msg = _message(rng.choice(["12.5", "n/a", "", "7e3"]), stmt)
            elif cls == "no_processor":
                msg = _message(duration, _no_processor(rng))
            else:
                msg = _message(duration, stmt)
                k = _minute_key(ts)
                cnt, dur = volume.get(k, (0, 0))
                volume[k] = (cnt + 1, dur + int(duration))
            source = {"@timestamp": ts}
            source["@message" if rng.random() < 0.05 else "message"] = msg
            tags = TAG_CHOICES[rng.randrange(len(TAG_CHOICES))]
            if tags or rng.random() < 0.5:
                source["tags"] = tags
            hits.append({"_index": "logstash", "_source": source})
            truth["raw_hits"] += 1
            if cls == "event":
                truth["events"] += 1
            else:
                truth[cls] += 1
            if cls != "prefiltered":
                truth["hits"] += 1
        page = {"responses": [{"_shards": {"failures": []},
                               "hits": {"total": len(hits), "hits": hits}}]}
        path = os.path.join(out_dir, "page-%03d.json" % p)
        with open(path, "w") as f:
            # dumps, not dump: dump streams through the pure-Python encoder
            f.write(json.dumps(page, separators=(",", ":")))
        files.append(path)

    schema = os.path.join(out_dir, "schema.cql")
    with open(schema, "w") as f:
        f.write(SCHEMA_CQL)
    tags = os.path.join(out_dir, "tags.json")
    with open(tags, "w") as f:
        json.dump(TAGS, f, sort_keys=True)
    queries = os.path.join(out_dir, "queries.json")
    with open(queries, "w") as f:
        json.dump(PATTERNS, f, sort_keys=True)
    truth["volume"] = {k: list(v) for k, v in sorted(volume.items())}
    inputs = {"pages": files, "schema": schema, "tags": tags, "queries": queries,
              "input_bytes": sum(os.path.getsize(x) for x in files)}
    return inputs, truth


def expected_volume_rows(truth, min_count):
    """The `volume` CSV rows the reference defines: one per minute with
    at least `min_count` events, sorted by minute, with the
    floor-division average."""
    rows = []
    for minute, (cnt, dur) in sorted(truth["volume"].items()):
        if cnt >= min_count:
            rows.append([minute, str(cnt), str(dur), str(dur // cnt)])
    return rows


# ---------------------------------------------------------------- index

VOCAB = 3000
DIMS = 32
CLUSTERS = 24


def _word(i):
    """A pronounceable synthetic word for vocabulary rank i."""
    cons, vows = "bcdfghklmnprstvz", "aeiou"
    s, n = "", i + 1
    while n > 0:
        n, r = divmod(n, len(cons) * len(vows))
        s += cons[r % len(cons)] + vows[r // len(cons)]
    return s


def _text(rng, zipf, words):
    return " ".join(words[zipf.draw(rng)] for _ in range(rng.randrange(12, 40)))


def _unit(vec):
    norm = math.sqrt(sum(x * x for x in vec)) or 1.0
    return [round(x / norm, 5) for x in vec]


def _write_jsonl(path, rows):
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r, separators=(",", ":")))
            f.write("\n")


def gen_index(out_dir, seed, docs=3000, vectors=3000, queries=64,
              batch_queries=32, repeat_share=0.3):
    """Write the index workloads' corpus, embeddings and query streams.

    The lifecycle adds about 10% new documents and vectors (`update`),
    retracts about 5% (`delete`), and appends a 5% vector wave after the
    graph is built (`graph --append`). Ground truth: the surviving ids.
    """
    rng = random.Random(seed * 104729 + 2)
    os.makedirs(out_dir, exist_ok=True)
    words = [_word(i) for i in range(VOCAB)]
    zipf = Zipf(VOCAB, 1.07)

    n_upd = docs // 10
    base_docs = [{"doc_id": i, "text": _text(rng, zipf, words)} for i in range(docs)]
    upd_docs = [{"doc_id": docs + i, "text": _text(rng, zipf, words)} for i in range(n_upd)]
    all_ids = list(range(docs + n_upd))
    deleted = sorted(rng.sample(all_ids, (docs + n_upd) // 20))
    survivors = sorted(set(all_ids) - set(deleted))

    centers = [[rng.gauss(0, 1) for _ in range(DIMS)] for _ in range(CLUSTERS)]

    def vec(i):
        c = centers[rng.randrange(CLUSTERS)]
        return {"vec_id": i, "embedding": _unit([x + rng.gauss(0, 0.35) for x in c])}

    v_upd = vectors // 10
    v_wave = vectors // 20
    base_vecs = [vec(i) for i in range(vectors)]
    upd_vecs = [vec(vectors + i) for i in range(v_upd)]
    v_all = list(range(vectors + v_upd))
    v_deleted = sorted(rng.sample(v_all, (vectors + v_upd) // 20))
    v_dead = set(v_deleted)
    wave_vecs = [vec(vectors + v_upd + i) for i in range(v_wave)]
    live_vecs = [v for v in base_vecs + upd_vecs if v["vec_id"] not in v_dead]

    # single-search stream: lexical phrases and vector probe ids, with a
    # stated share repeating an earlier query of the same arm
    live_ids = [v["vec_id"] for v in live_vecs]
    text_by_id = {d["doc_id"]: d["text"] for d in base_docs + upd_docs}
    stream = []
    seen = {"lex": [], "vec": []}
    for i in range(queries):
        arm = ("lex", "pq", "sq8", "graph")[i % 4]
        pool = seen["lex" if arm == "lex" else "vec"]
        if pool and rng.random() < repeat_share:
            q = pool[rng.randrange(len(pool))]
        elif arm == "lex":
            toks = text_by_id[rng.choice(survivors)].split(" ")
            start = rng.randrange(max(1, len(toks) - 4))
            q = " ".join(toks[start:start + 4])
        else:
            q = rng.choice(live_ids)
        pool.append(q)
        stream.append({"arm": arm, "q": q})

    # batch queries: the first six words of surviving low-id documents,
    # so the brute-force BM25 check can treat them as corpus queries
    lex_batch_ids = [i for i in survivors if i < docs][:batch_queries]
    lex_batch = [{"query_id": i, "text": " ".join(text_by_id[i].split(" ")[:6])}
                 for i in lex_batch_ids]
    vec_batch = [{"vec_id": i} for i in rng.sample(live_ids, batch_queries)]

    files = {}
    for name, rows in (("docs", base_docs), ("docs_update", upd_docs),
                       ("docs_delete", [{"doc_id": i} for i in deleted]),
                       ("emb", base_vecs), ("emb_update", upd_vecs),
                       ("emb_delete", [{"vec_id": i} for i in v_deleted]),
                       ("emb_live", live_vecs), ("emb_wave", wave_vecs),
                       ("emb_live_wave", live_vecs + wave_vecs),
                       ("lex_batch", lex_batch), ("vec_batch", vec_batch)):
        path = os.path.join(out_dir, name + ".jsonl")
        _write_jsonl(path, rows)
        files[name] = path
    stream_path = os.path.join(out_dir, "stream.json")
    with open(stream_path, "w") as f:
        json.dump(stream, f, separators=(",", ":"))
    files["stream"] = stream_path
    truth = {
        "docs": docs + n_upd,
        "vectors": vectors + v_upd + v_wave,
        "doc_survivors": survivors,
        "vec_survivors": sorted(v["vec_id"] for v in live_vecs),
        "vec_survivors_after_wave": sorted(v["vec_id"] for v in live_vecs + wave_vecs),
        "repeat_share": repeat_share,
        "lex_batch_ids": lex_batch_ids,
    }
    return files, truth


def load_vectors(path):
    """vec_id -> embedding, from a generated jsonl file."""
    out = {}
    with open(path) as f:
        for line in f:
            r = json.loads(line)
            out[r["vec_id"]] = r["embedding"]
    return out
