"""Seeded input generators for the four workloads.

Every generator writes parquet inputs into a directory and returns a
ground-truth dict (also written as truth.json) describing the structure it
planted. The program under test only ever sees the parquet files.
"""
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EN_MARKERS = ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"]
# markers unique to one language, so language id never ties
OTHER_MARKERS = {
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit", "ich"],
    "fr": ["le", "les", "et", "est", "une", "pour", "dans"],
    "es": ["el", "los", "las", "y", "es", "una", "por"],
}

CURATE_DECONTAM_N = 8


def vocabulary(rng, size):
    """Distinct letter-only pseudo-words of 5-9 letters, none a marker."""
    cons, vows = "bcdfghjklmnprstvwz", "aeiou"
    words = set()
    while len(words) < size:
        n = rng.randint(2, 4)
        w = "".join(rng.choice(cons) + rng.choice(vows) for _ in range(n))
        if rng.random() < 0.5:
            w += rng.choice(cons)
        words.add(w)
    return sorted(words)


def shingles(text, n=3):
    toks = text.split(" ")
    if len(toks) <= n:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a, b):
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)


def write_table(path, columns, parts=1):
    """Write `columns` as one parquet file, or as a directory of `parts`
    files so that a scan splits across cores."""
    t = pa.table(columns)
    if parts == 1:
        pq.write_table(t, path)
        return
    os.makedirs(path)
    step = -(-t.num_rows // parts)
    for p in range(parts):
        pq.write_table(t.slice(p * step, step), os.path.join(path, "part-%d.parquet" % p))


def en_doc(rng, vocab, n_words):
    return " ".join(
        rng.choice(EN_MARKERS) if rng.random() < 0.25 else rng.choice(vocab)
        for _ in range(n_words))


def substitute(rng, vocab, text, positions):
    toks = text.split(" ")
    for p in positions:
        toks[p] = rng.choice(vocab)
    return " ".join(toks)


def near_variant(rng, vocab, base, min_j):
    """One-word substitution of `base` whose Jaccard with it is >= min_j."""
    toks = base.split(" ")
    for _ in range(100):
        v = substitute(rng, vocab, base, [rng.randrange(3, len(toks) - 3)])
        if v != base and jaccard(base, v) >= min_j:
            return v
    raise ValueError("no variant of a %d-word doc reaches Jaccard %.2f" % (len(toks), min_j))


# ---------------------------------------------------------------- curate

def gen_curate(out, seed, scale=1.0):
    """Multilingual corpus with planted exact-dup groups, near-dup families,
    low-similarity pairs, contaminated docs and one boilerplate family whose
    members share most LSH bands (a hot bucket)."""
    rng = random.Random(seed * 7919 + 1)
    vocab = vocabulary(rng, 6000)
    s = lambda n: max(1, int(n * scale))
    docs = []  # (kind, group, text)
    for _ in range(s(6500)):
        docs.append(("plain", None, en_doc(rng, vocab, rng.randint(40, 110))))
    for lang, marks in OTHER_MARKERS.items():
        for _ in range(s(300)):
            docs.append(("lang", None, " ".join(
                rng.choice(marks) if rng.random() < 0.3 else rng.choice(vocab)
                for _ in range(rng.randint(40, 90)))))
    for _ in range(s(500)):
        docs.append(("short", None, en_doc(rng, vocab, rng.randint(4, 14))))
    for g in range(s(250)):
        t = en_doc(rng, vocab, rng.randint(40, 100))
        for _ in range(rng.randint(2, 4)):
            docs.append(("exact", g, t))
    near_min_j = []
    for g in range(s(220)):
        base = en_doc(rng, vocab, rng.randint(110, 140))
        members = [base] + [near_variant(rng, vocab, base, 0.93) for _ in range(2)]
        near_min_j.append(min(jaccard(base, v) for v in members[1:]))
        for m in members:
            docs.append(("near", g, m))
    low_j = []
    for g in range(s(150)):
        a = en_doc(rng, vocab, 90)
        toks = a.split(" ")
        b = " ".join(toks[:55] + en_doc(rng, vocab, 35).split(" "))
        low_j.append(jaccard(a, b))
        docs.append(("low", g, a))
        docs.append(("low", g, b))
    template = en_doc(rng, vocab, 80)
    boiler = set()
    for _ in range(s(300)):
        t = template + " " + " ".join(rng.choice(vocab) for _ in range(3))
        if t not in boiler:
            boiler.add(t)
            docs.append(("boiler", 0, t))
    bench = [" ".join(rng.choice(vocab) for _ in range(rng.randint(30, 50)))
             for _ in range(60)]
    for _ in range(s(150)):
        src = rng.choice(bench).split(" ")
        at = rng.randrange(0, len(src) - 12)
        body = en_doc(rng, vocab, rng.randint(50, 90)).split(" ")
        cut = rng.randrange(5, len(body) - 5)
        docs.append(("contam", None,
                     " ".join(body[:cut] + src[at:at + 12] + body[cut:])))
    assert min(near_min_j) >= 0.9, min(near_min_j)
    assert max(low_j) <= 0.5, max(low_j)

    ids = list(range(len(docs)))
    rng.shuffle(ids)
    truth = {"exact": {}, "near": {}, "low": {}, "boiler": [], "contam": [],
             "lang": [], "short": [], "n": len(docs), "decontam_n": CURATE_DECONTAM_N,
             "near_min_jaccard": min(near_min_j), "low_max_jaccard": max(low_j)}
    for i, (kind, g, _) in zip(ids, docs):
        if kind in ("exact", "near", "low"):
            truth[kind].setdefault(str(g), []).append(i)
        elif kind in ("boiler", "contam", "lang", "short"):
            truth[kind].append(i)
    order = sorted(range(len(docs)), key=lambda k: ids[k])
    write_table(os.path.join(out, "corpus.parquet"), {
        "doc_id": pa.array([ids[k] for k in order], pa.int64()),
        "text": pa.array([docs[k][2] for k in order], pa.string())}, parts=4)
    write_table(os.path.join(out, "bench.parquet"), {
        "text": pa.array(bench, pa.string())})
    return truth


# ------------------------------------------------------------------- etl

def gen_etl(out, seed, scale=1.0):
    """Star schema: orders/lineitem facts, a customer dim and a timestamped
    per-part price table; one customer owns ~30% of orders."""
    r = np.random.default_rng(seed)
    s = lambda n: max(1, int(n * scale))
    n_cust, n_part, n_ord = s(2000), s(400), s(30000)
    hot = int(r.integers(0, n_cust))
    cust = np.where(r.random(n_ord) < 0.3, hot, r.integers(0, n_cust, n_ord))
    base = 1_600_000_000
    span = 365 * 86400
    order_ts = base + r.integers(0, span, n_ord)
    lines_per = r.integers(1, 8, n_ord)
    li_order = np.repeat(np.arange(n_ord), lines_per)
    n_li = len(li_order)
    li_line = np.concatenate([np.arange(k) for k in lines_per])
    li_part = r.integers(0, n_part, n_li)
    li_qty = r.integers(1, 50, n_li)
    li_disc = r.integers(0, 10, n_li) / 100.0
    li_ts = order_ts[li_order] + r.integers(0, 30 * 86400, n_li)
    n_px = 24
    px_part = np.repeat(np.arange(n_part), n_px)
    # strictly increasing per part, so an as-of match is never ambiguous
    px_ts = (base - 86400 + np.sort(r.integers(0, span + 30 * 86400, (n_part, n_px)), axis=1)
             + np.arange(n_px)).ravel()
    px_price = np.round(r.uniform(1, 100, n_part * n_px), 2)
    ts = lambda a: pa.array(a.astype("datetime64[s]").astype("datetime64[us]"), pa.timestamp("us", tz="UTC"))
    write_table(os.path.join(out, "customer.parquet"), {
        "cust_id": pa.array(np.arange(n_cust), pa.int64()),
        "nation": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "segment": pa.array([["AUTO", "BUILD", "FURN", "HOUSE", "MACH"][i]
                             for i in r.integers(0, 5, n_cust)], pa.string())})
    write_table(os.path.join(out, "orders.parquet"), {
        "order_id": pa.array(np.arange(n_ord), pa.int64()),
        "cust_id": pa.array(cust, pa.int64()),
        "order_ts": ts(order_ts),
        "priority": pa.array(r.integers(1, 6, n_ord), pa.int32())}, parts=4)
    write_table(os.path.join(out, "lineitem.parquet"), {
        "order_id": pa.array(li_order, pa.int64()),
        "line_no": pa.array(li_line, pa.int32()),
        "part_id": pa.array(li_part, pa.int64()),
        "qty": pa.array(li_qty, pa.int64()),
        "discount": pa.array(li_disc, pa.float64()),
        "ship_ts": ts(li_ts)}, parts=4)
    write_table(os.path.join(out, "price.parquet"), {
        "part_id": pa.array(px_part, pa.int64()),
        "px_ts": ts(px_ts),
        "price": pa.array(px_price, pa.float64())})
    # upsert feed for the order store: new priorities for ~10% of orders
    # plus ~2% new orders
    upd = np.sort(r.choice(n_ord, n_ord // 10, replace=False))
    new = np.arange(n_ord, n_ord + n_ord // 50)
    write_table(os.path.join(out, "updates.parquet"), {
        "order_id": pa.array(np.concatenate([upd, new]), pa.int64()),
        "cust_id": pa.array(np.concatenate([cust[upd], r.integers(0, n_cust, len(new))]), pa.int64()),
        "priority": pa.array(r.integers(1, 6, len(upd) + len(new)), pa.int32())})
    return {"hot_cust": hot, "orders": n_ord, "lineitem": n_li,
            "hot_share": float(np.mean(cust == hot))}


GENERATORS = {"curate": gen_curate, "etl": gen_etl}


# input size per workload, as a multiple of each generator's base size
SCALES = {"curate": 0.3, "etl": 1.0}


def generate(workload, out, seed):
    os.makedirs(out, exist_ok=True)
    truth = GENERATORS[workload](out, seed, SCALES[workload])
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump(truth, f)
    return truth
