"""Seeded input generator for the benchmark workloads.

Every table is written in the fixture schema (FIXTURES.md section B) as ONE
parquet file, never a directory: `Streams.readEvents` selects the events
file by leaf name through `pathGlobFilter`, so a directory would stream zero
rows. Large tables are split into several row groups so that Spark reads
them with one task per core instead of a single task.

Beside the inputs the generator writes ground truth under `truth/`:
the planted Gaussian mixture (lloyd), the exact-Jaccard near-duplicate
pairs and the brute-force cosine top-10 of the search probe (data).

    python3 bench/gen.py <workload> <seed> <out_dir>
"""
import json
import math
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Input sizes. Each one is chosen so that a workload operation is short
# enough to be repeated several times inside one measured window (the
# benchmark reports the mean over those repetitions).
SIZES = {
    "lloyd": {"points": 20_000, "dim": 64, "mixture": 16},
    "data": {"docs": 2_000, "vocab": 4_000, "dup_share": 0.3,
             "vectors": 5_000, "dim": 64, "mixture": 32,
             "events": 10_000, "users": 1_000, "customers": 750, "hours": 72},
}
JACCARD = 0.8          # TextDedup.nearDupPairs default threshold
TOPK = 10              # q_topk_similar answer size
ROW_GROUPS = 8         # row groups per large table


def _write(table, path, row_groups=1):
    rows = max(1, math.ceil(table.num_rows / row_groups))
    pq.write_table(table, path, row_group_size=rows)


def _vec_column(mat):
    """float32 matrix -> list<float> column (fixture type ARRAY<FLOAT>)."""
    n, d = mat.shape
    offsets = pa.array(np.arange(0, n * d + 1, d, dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, pa.array(mat.reshape(-1), pa.float32()))


def _mixture(rng, n, dim, k, center_scale, noise):
    centers = rng.normal(0.0, center_scale, (k, dim))
    labels = rng.integers(0, k, n)
    pts = (centers[labels] + rng.normal(0.0, noise, (n, dim))).astype(np.float32)
    return centers, labels, pts


def _embeddings(out, pts, labels):
    n = pts.shape[0]
    table = pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": _vec_column(pts),
        "label": pa.array(labels.astype(np.int32)),
    })
    _write(table, os.path.join(out, "embeddings.parquet"), ROW_GROUPS)


def gen_lloyd(rng, out, truth, s):
    centers, labels, pts = _mixture(rng, s["points"], s["dim"], s["mixture"], 1.0, 0.5)
    _embeddings(out, pts, labels)
    with open(os.path.join(truth, "mixture.json"), "w") as f:
        json.dump({"centers": centers.tolist(), "noise": 0.5,
                   "points": s["points"]}, f)


def gen_search(rng, out, truth, s):
    centers, labels, pts = _mixture(rng, s["vectors"], s["dim"], s["mixture"], 0.15, 0.08)
    _embeddings(out, pts, labels)
    # brute-force cosine top-10 of the probe (vec_id 0), in double from the
    # stored float32 values, rounded to 9 places like q_topk_similar
    v = pts.astype(np.float64)
    norms = np.sqrt((v * v).sum(axis=1))
    sims = np.round((v @ v[0]) / (norms * norms[0]), 9)
    order = np.lexsort((np.arange(len(sims)), -sims))[:TOPK]
    with open(os.path.join(truth, "topk.json"), "w") as f:
        json.dump([[int(i), float(sims[i])] for i in order], f)


def _shingles(words):
    return {" ".join(words[i:i + 3]) for i in range(len(words) - 2)}


def exact_pairs(shingle_sets, threshold):
    """All pairs with Jaccard >= threshold (prefix-filtered AllPairs: two
    sets reaching the threshold share a token within each set's first
    |s| - ceil(t*|s|) + 1 tokens in rarest-first order, so the candidate
    set is complete and every candidate is verified exactly)."""
    freq = {}
    for s in shingle_sets:
        for t in s:
            freq[t] = freq.get(t, 0) + 1
    index = {}
    cands = set()
    for i, s in enumerate(shingle_sets):
        if not s:
            continue
        toks = sorted(s, key=lambda t: (freq[t], t))
        prefix = toks[:len(toks) - math.ceil(threshold * len(toks)) + 1]
        for t in prefix:
            for j in index.get(t, ()):
                cands.add((j, i))
            index.setdefault(t, []).append(i)
    pairs = []
    for a, b in cands:
        sa, sb = shingle_sets[a], shingle_sets[b]
        j = len(sa & sb) / len(sa | sb)
        if j >= threshold:
            pairs.append((a, b, j))
    return sorted(pairs)


def gen_dedup(rng, out, truth, s):
    ranks = np.arange(1, s["vocab"] + 1)
    p = 1.0 / ranks ** 1.05
    p /= p.sum()
    vocab = np.array([f"w{r:x}" for r in ranks])
    docs = []
    for _ in range(s["docs"]):
        if docs and rng.random() < s["dup_share"]:
            # planted near-duplicate: a copy of an earlier doc with a few
            # word substitutions, insertions and deletions
            words = list(docs[rng.integers(0, len(docs))])
            for _ in range(rng.integers(0, 4)):
                op, pos = rng.integers(0, 3), rng.integers(0, len(words))
                w = vocab[rng.choice(len(vocab), p=p)]
                if op == 0:
                    words[pos] = w
                elif op == 1:
                    words.insert(pos, w)
                elif len(words) > 3:
                    del words[pos]
        else:
            words = list(vocab[rng.choice(len(vocab), size=rng.integers(40, 160), p=p)])
        docs.append(words)
    texts = [" ".join(w) for w in docs]
    table = pa.table({
        "doc_id": pa.array(np.arange(len(texts), dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(["en", "es", "zh", "de", "fr"], len(texts))),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, len(texts))]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    _write(table, os.path.join(out, "documents.parquet"), ROW_GROUPS)
    pairs = exact_pairs([_shingles(w) for w in docs], JACCARD)
    with open(os.path.join(truth, "pairs.json"), "w") as f:
        json.dump([[a, b, j] for a, b, j in pairs], f)


def gen_events(rng, out, truth, s):
    n, users = s["events"], s["users"]
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = s["hours"] * 3600 * 1_000_000
    ts = t0 + np.sort(rng.integers(0, span, n))
    # out-of-order arrivals, and a smaller share arriving later than the
    # 1-hour watermark
    late = rng.random(n)
    ts = ts - np.where(late < 0.10, rng.integers(0, 45 * 60 * 1_000_000, n), 0)
    ts = ts - np.where(late > 0.98, rng.integers(90 * 60 * 1_000_000, 4 * 3600 * 1_000_000, n), 0)
    # Zipf-skewed users: rank r has weight 1/r^1.2 over a shuffled id space
    w = 1.0 / np.arange(1, users + 1) ** 1.2
    user = rng.permutation(users)[rng.choice(users, n, p=w / w.sum())]
    types = rng.choice(["click", "view", "purchase", "signup", "error"], n,
                       p=[0.30, 0.45, 0.10, 0.05, 0.10])
    value = np.round(rng.gamma(2.0, 10.0, n), 2)
    props = np.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)])
    event_id = np.arange(n, dtype=np.int64)
    # at-least-once delivery: 1% of rows are delivered a second time, later
    dup = rng.choice(n, n // 100, replace=False)
    at = dup + 1 + (rng.random(len(dup)) * (n - dup)).astype(np.int64)
    order = np.insert(np.arange(n), at, dup)
    table = pa.table({
        "event_id": pa.array(event_id[order]),
        "ts": pa.array(ts[order], pa.timestamp("us")),
        "user_id": pa.array(user[order].astype(np.int64)),
        "event_type": pa.array(types[order]),
        "value": pa.array(value[order]),
        "props": pa.array(props[order]),
    })
    _write(table, os.path.join(out, "events.parquet"), ROW_GROUPS)
    c = s["customers"]
    cust = pa.table({
        "c_custkey": pa.array(np.arange(c, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(c)]),
        "c_nationkey": pa.array(rng.integers(0, 25, c).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, c), 2)),
        "c_mktsegment": pa.array(rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], c)),
    })
    _write(cust, os.path.join(out, "customer.parquet"))


def gen_data(rng, out, truth, s):
    gen_dedup(rng, out, truth, s)
    gen_search(rng, out, truth, s)
    gen_events(rng, out, truth, s)


GENERATORS = {"lloyd": gen_lloyd, "data": gen_data}


def generate(workload, seed, out):
    """Write `workload`'s inputs to out/data and their ground truth to
    out/truth; the same seed always gives the same files."""
    data, truth = os.path.join(out, "data"), os.path.join(out, "truth")
    os.makedirs(data, exist_ok=True)
    os.makedirs(truth, exist_ok=True)
    # one stream per (workload, seed), so workloads never share inputs
    rng = np.random.default_rng([seed, sorted(GENERATORS).index(workload)])
    GENERATORS[workload](rng, data, truth, SIZES[workload])
    return data, truth


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])
