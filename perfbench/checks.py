"""Output checkers. Each takes the program's outputs (as plain Python data)
and the generated inputs, recomputes the expected result apart from the
program, and returns a list of failure messages (empty when correct).
"""
import datetime
import math
import os
import re
from collections import defaultdict

import pyarrow.parquet as pq

from gen import shingles

LANG_MARKERS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit", "ich"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "que", "pour", "dans"],
    "es": ["el", "la", "los", "las", "y", "es", "un", "una", "que", "por"],
}
BPEISH = re.compile(r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]")


def read_rows(path):
    return pq.read_table(path).to_pylist()


def jaccard_sets(a, b):
    return len(a & b) / len(a | b)


def similar_pairs(texts, threshold):
    """All pairs (i, j), i < j, of keys of `texts` whose word 3-shingle
    Jaccard is >= threshold, found through a shingle inverted index."""
    sh = {k: shingles(t) for k, t in texts.items()}
    post = defaultdict(list)
    for k, s in sh.items():
        for g in s:
            post[g].append(k)
    out = []
    for k, s in sh.items():
        shared = defaultdict(int)
        for g in s:
            for o in post[g]:
                if o > k:
                    shared[o] += 1
        for o, c in shared.items():
            # |A & B| >= t * |A | B| >= t * max(|A|, |B|)
            if c >= threshold * max(len(s), len(sh[o])):
                j = jaccard_sets(s, sh[o])
                if j >= threshold:
                    out.append((k, o, j))
    return out


def components(nodes, pairs):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b, _ in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in nodes}


def ngrams(text, n):
    toks = text.split()
    if len(toks) <= n:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


# ---------------------------------------------------------------- curate

def lang_id(text):
    toks = [re.sub(r"[^a-z]", "", t) for t in text.lower().split()]
    hits = {lang: sum(t in set(m) for t in toks) for lang, m in LANG_MARKERS.items()}
    best = max(hits.values())
    if best == 0:
        return "und"
    return max(lang for lang, h in hits.items() if h == best)


def expected_curate(corpus, bench, truth, min_tokens=20, threshold=0.8):
    """Stage-by-stage survivors of the curation pipeline, computed in
    Python from the corpus text alone."""
    ids = sorted(corpus)
    removed = {}
    keep = [i for i in ids if lang_id(corpus[i]) == "en"]
    removed["lang"] = set(ids) - set(keep)
    filtered = [i for i in keep if len(BPEISH.findall(corpus[i])) >= min_tokens]
    removed["length"] = set(keep) - set(filtered)
    first = {}
    for i in filtered:
        first.setdefault(corpus[i], i)
    exact = sorted(first.values())
    removed["exact"] = set(filtered) - set(exact)
    pairs = similar_pairs({i: corpus[i] for i in exact}, threshold)
    root = components(exact, pairs)
    near = [i for i in exact if root[i] == i]
    removed["near"] = set(exact) - set(near)
    n = truth["decontam_n"]
    bench_grams = set().union(*(ngrams(b, n) for b in bench))
    clean = [i for i in near if not (ngrams(corpus[i], n) & bench_grams)]
    removed["decontam"] = set(near) - set(clean)
    stages = {"filtered": filtered, "exact": exact, "near": near, "clean": clean}
    return stages, removed, bench_grams


def check_curate(out, inputs, truth):
    corpus = {r["doc_id"]: r["text"] for r in read_rows(os.path.join(inputs, "corpus.parquet"))}
    bench = [r["text"] for r in read_rows(os.path.join(inputs, "bench.parquet"))]
    stages, removed, bench_grams = expected_curate(corpus, bench, truth)
    surv = set(out["survivors"])
    fails = []
    if len(surv) != len(out["survivors"]):
        fails.append("duplicate survivor ids")
    for g, members in truth["exact"].items():
        if surv & set(members) != {min(members)}:
            fails.append("exact group %s keeps %s, not its min id %d"
                         % (g, sorted(surv & set(members)), min(members)))
    for g, members in truth["near"].items():
        if len(surv & set(members)) != 1:
            fails.append("near-dup family %s keeps %d docs" % (g, len(surv & set(members))))
    for g, members in truth["low"].items():
        if not set(members) <= surv:
            fails.append("low-similarity pair %s lost a doc" % g)
    if len(surv & set(truth["boiler"])) != 1:
        fails.append("boilerplate family keeps %d docs" % len(surv & set(truth["boiler"])))
    leaked = [i for i in surv if ngrams(corpus[i], truth["decontam_n"]) & bench_grams]
    if leaked:
        fails.append("%d survivors share a %d-gram with the benchmark set"
                     % (len(leaked), truth["decontam_n"]))
    parts = [surv] + list(removed.values())
    if sum(map(len, parts)) != len(corpus) or set().union(*parts) != set(corpus):
        fails.append("survivors plus stage removals (%s) do not partition the input"
                     % {k: len(v) for k, v in removed.items()})
    if surv != set(stages["clean"]):
        fails.append("survivors differ from the expected set: %d missing, %d extra"
                     % (len(set(stages["clean"]) - surv), len(surv - set(stages["clean"]))))
    for name, got in out.get("stages", {}).items():
        if set(got) != set(stages[name]):
            fails.append("stage %s output differs from the expected set" % name)
    for a, b, j in out.get("pairs", []):
        exact = jaccard_sets(shingles(corpus[a]), shingles(corpus[b]))
        if abs(exact - j) > 1e-4:
            fails.append("pair (%d, %d) reports Jaccard %.4f, recomputed %.4f" % (a, b, j, exact))
            break
    return fails


# ------------------------------------------------------------------- etl

ETL_SQL = {
    "route_bulk": "SELECT part_id, count(*) AS n, sum(qty) AS qty FROM lineitem "
                  "WHERE qty >= 25 GROUP BY part_id",
    "route_small": "SELECT part_id, count(*) AS n, sum(qty) AS qty FROM lineitem "
                   "WHERE qty < 25 GROUP BY part_id",
    "by_nation": "SELECT nation, segment, count(*) AS n_orders, sum(priority) AS prio "
                 "FROM orders JOIN customer USING (cust_id) GROUP BY nation, segment",
    "by_customer": "SELECT cust_id, segment, count(*) AS n_lines, sum(qty) AS qty "
                   "FROM lineitem JOIN orders USING (order_id) JOIN customer USING (cust_id) "
                   "GROUP BY cust_id, segment",
    "asof_revenue": "SELECT l.part_id, sum(l.qty * p.price * (1.0 - l.discount)) AS revenue, "
                    "count(*) AS n FROM lineitem l ASOF LEFT JOIN price p "
                    "ON l.part_id = p.part_id AND l.ship_ts >= p.px_ts GROUP BY l.part_id",
    "cube": "SELECT nation, segment, year(order_ts) AS year, count(*) AS n, "
            "sum(priority) AS prio FROM orders JOIN customer USING (cust_id) "
            "GROUP BY CUBE (nation, segment, year(order_ts))",
    "topk": "SELECT cust_id, total, order_id FROM (SELECT o.cust_id, t.total, o.order_id, "
            "row_number() OVER (PARTITION BY o.cust_id ORDER BY t.total DESC, o.order_id DESC) AS r "
            "FROM (SELECT order_id, sum(qty) AS total FROM lineitem GROUP BY order_id) t "
            "JOIN orders o USING (order_id)) WHERE r <= 3",
    "store_final": "SELECT order_id, cust_id, priority FROM updates UNION ALL "
                   "SELECT order_id, cust_id, priority FROM orders "
                   "WHERE order_id NOT IN (SELECT order_id FROM updates)",
    "store_v1": "SELECT order_id, cust_id, priority FROM orders",
    "by_year": "SELECT year(order_ts) AS year, order_id, cust_id, order_ts, priority, nation, segment "
               "FROM orders JOIN customer USING (cust_id)",
}


def _plain(v):
    """Timestamps compare as naive UTC, whichever way parquet stored them."""
    if isinstance(v, datetime.datetime) and v.tzinfo is not None:
        return v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    return v


def rows_equal(got, want, rel=1e-9):
    """Order-insensitive row-list equality; floats compare to `rel`."""
    got = [[_plain(x) for x in r] for r in got]
    want = [[_plain(x) for x in r] for r in want]
    if len(got) != len(want):
        return "row count %d, expected %d" % (len(got), len(want))
    key = lambda row: tuple((x is None, str(type(x)), x if not isinstance(x, float) else round(x, 3))
                            for x in row)
    for g, w in zip(sorted(got, key=key), sorted(want, key=key)):
        for x, y in zip(g, w):
            if isinstance(x, float) or isinstance(y, float):
                if x is None or y is None or not math.isclose(x, y, rel_tol=rel, abs_tol=1e-9):
                    return "row %r, expected %r" % (g, w)
            elif x != y:
                return "row %r, expected %r" % (g, w)
    return None


def check_etl(out, inputs, truth):
    import duckdb
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for t in ("customer", "orders", "lineitem", "price", "updates"):
        p = os.path.join(inputs, t + ".parquet")
        con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s')"
                    % (t, p + "/*.parquet" if os.path.isdir(p) else p))
    fails = []
    for sink, sql in ETL_SQL.items():
        res = con.execute(sql)
        cols = [d[0] for d in res.description]
        want = res.fetchall()
        path = os.path.join(out["dir"], sink)
        got = con.execute("SELECT %s FROM read_parquet('%s/**/*.parquet', hive_partitioning = %s)"
                          % (", ".join(cols), path, "true" if sink == "by_year" else "false")
                          ).fetchall()
        err = rows_equal([list(r) for r in got], [list(r) for r in want])
        if err:
            fails.append("sink %s: %s" % (sink, err))
    return fails


CHECKERS = {"curate": check_curate, "etl": check_etl}
