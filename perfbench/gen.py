"""Seeded input generation for the benchmark.

Everything the engine reads during a run comes from here: the three
corpus tables, the carbon line batches with their expected outcome, and
the corpus operator sequence. The same seed always gives the same inputs.

The corpus tables follow the sf0.1 testdata: the same row counts and
columns, and each distribution fitted to what `corpus_stats` measures on
the sf0.1 tables (the figures are in README.md and test_bench.py).

    python3 perfbench/gen.py <dir>   # corpus_stats of <dir>'s tables
"""
import collections
import json
import os
import random
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Buckets.NowS: 2024-01-31T00:00:00Z. Every time in the benchmark is
# relative to it, never to the wall clock.
NOW_S = 1706659200
DAY = 86400

N_EVENTS = 100_000
N_DOCUMENTS = 5_000
N_EMBEDDINGS = 2_000
EMBED_DIM = 64
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
# 30 words, uniform; a near duplicate is another document plus DUP_MARK
VOCAB = ("a agg batch big column customer data fast filter group hash "
         "join key line merge order part query row scan slow small sort "
         "spark stream table the value vector window").split()
DUP_MARK = "dup"
SHARE_NEAR_DUP = 0.05
WORDS_PER_DOC = (10, 99)
SOURCES = 20
LANGS = (["en", "de", "es", "fr", "zh"], [0.4, 0.15, 0.15, 0.15, 0.15])
LABELS = 10


def _rng(seed, stream):
    return np.random.default_rng([seed, stream])


def write_events(path, seed):
    """100,000 points over 5 series and the 30 days before NOW_S."""
    r = _rng(seed, 1)
    start_us = (NOW_S - 30 * DAY) * 1_000_000
    ts = np.sort(r.integers(0, 30 * DAY * 1_000_000, N_EVENTS)) + start_us
    table = pa.table({
        "event_id": pa.array(np.arange(N_EVENTS, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, 1500, N_EVENTS), type=pa.int64()),
        "event_type": pa.array(
            [EVENT_TYPES[i] for i in r.integers(0, 5, N_EVENTS)]),
        "value": pa.array(np.round(r.exponential(50.0, N_EVENTS), 2)),
        "props": pa.array(
            ['{"k": %d}' % k for k in r.integers(0, 100, N_EVENTS)]),
    })
    pq.write_table(table, path)


def write_documents(path, seed):
    """5,000 documents of 10-100 uniform words. 5 % are near duplicates:
    another document (anywhere in the table, possibly itself a duplicate)
    with DUP_MARK appended. Exact duplicates arise only where two of them
    copy the same document."""
    r = _rng(seed, 2)
    lo, hi = WORDS_PER_DOC
    texts = [" ".join(VOCAB[j] for j in r.integers(0, len(VOCAB), int(r.integers(lo, hi + 1))))
             for _ in range(N_DOCUMENTS)]
    for i in sorted(r.choice(N_DOCUMENTS, int(N_DOCUMENTS * SHARE_NEAR_DUP), replace=False)):
        j = int(r.integers(0, N_DOCUMENTS - 1))
        texts[i] = texts[j + (j >= i)] + " " + DUP_MARK
    langs = r.choice(LANGS[0], N_DOCUMENTS, p=LANGS[1])
    table = pa.table({
        "doc_id": pa.array(np.arange(N_DOCUMENTS, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(list(langs)),
        "source": pa.array(["src%d" % (i % SOURCES) for i in range(N_DOCUMENTS)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })
    pq.write_table(table, path)


def write_embeddings(path, seed):
    """2,000 unit vectors of 64 floats, uniform on the sphere, each with
    a uniform label of 10 that has no bearing on where it points."""
    r = _rng(seed, 3)
    labels = r.integers(0, LABELS, N_EMBEDDINGS)
    vecs = r.normal(0, 1, (N_EMBEDDINGS, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    table = pa.table({
        "vec_id": pa.array(np.arange(N_EMBEDDINGS, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels, type=pa.int32()),
    })
    pq.write_table(table, path)


def write_corpus(data_dir, seed):
    os.makedirs(data_dir, exist_ok=True)
    write_events(os.path.join(data_dir, "events.parquet"), seed)
    write_documents(os.path.join(data_dir, "documents.parquet"), seed)
    write_embeddings(os.path.join(data_dir, "embeddings.parquet"), seed)


def corpus_stats(data_dir):
    """The figures the corpus operators' cost depends on, measured on the
    three tables in `data_dir`: vocabulary, lengths and duplicates of the
    documents (dedup, decontaminate, text and token operators), spread of
    the embeddings (similarity) and shape of the events (sketch)."""
    def read(name):
        return pq.read_table(os.path.join(data_dir, name + ".parquet")).to_pydict()
    d, e, v = read("documents"), read("embeddings"), read("events")
    words = [t.split() for t in d["text"]]
    plain = [w for w in words if DUP_MARK not in w]
    lens = np.array([len(w) for w in plain])
    vecs = np.array(e["embedding"], dtype=np.float64)
    labels = np.array(e["label"])
    # mean resultant length of each label's vectors: near 1/sqrt(n) when a
    # label has no direction, near 1 for a tight cluster
    spread = [np.linalg.norm(vecs[labels == k].mean(0)) * np.sqrt((labels == k).sum())
              for k in np.unique(labels)]
    langs = collections.Counter(d["lang"])
    values = np.array(v["value"])
    ts = np.array(v["ts"], dtype="datetime64[us]").astype(np.int64) // 1_000_000
    return {
        "documents": len(words),
        "vocab": len({x for w in plain for x in w}),
        "words_min": int(lens.min()), "words_p50": float(np.median(lens)),
        "words_max": int(lens.max()),
        "near_dup_share": sum(1 for w in words if w[-1:] == [DUP_MARK]) / len(words),
        "exact_dup_rows": len(words) - len(set(d["text"])),
        "en_share": langs["en"] / len(words),
        "sources": len(set(d["source"])),
        "embeddings": len(vecs), "dim": vecs.shape[1], "labels": len(spread),
        "label_resultant_x_sqrt_n": float(np.mean(spread)),
        "events": len(values), "event_types": len(set(v["event_type"])),
        "users": len(set(v["user_id"])), "value_mean": float(values.mean()),
        "value_std": float(values.std()), "days": float((ts.max() - ts.min()) / DAY),
    }


# -------------------------------------------------------- whisper_write

HOSTS = 40
HOST_METRICS = ["cpu", "mem", "disk", "net", "load"]
SLICE_S = 300          # each cycle writes the next five minutes
MAX_RETENTION_S = 30 * DAY  # Retentions.std: 1m:1d,5m:7d,1h:30d
SHARE_REWRITE = 0.05
SHARE_MALFORMED = 0.02
SHARE_OLD = 0.01
SHARE_DISPLACED = 0.2


def series_names():
    return ["servers.host%02d.%s" % (h, m)
            for h in range(HOSTS) for m in HOST_METRICS]


def _malformed(r, metric, value, ts):
    shape = r.randrange(4)
    if shape == 0:
        return "%s %s" % (metric, value)             # missing field
    if shape == 1:
        return "%s x%s %d" % (metric, value, ts)     # value not a number
    if shape == 2:
        return "%s %s t%d" % (metric, value, ts)     # time not a number
    return "%s %s %d extra" % (metric, value, ts)    # one field too many


def carbon_cycle(r, cycle, series, written):
    """One cycle's carbon lines plus what the engine must make of them.

    `written` lists (metric, minute) buckets written by earlier cycles;
    rewrites pick from it so the later write must win. Returns
    (lines, expected counts, accepted points)."""
    now = NOW_S + (cycle + 1) * SLICE_S
    lo = now - SLICE_S
    points = []
    for m in series:
        for minute in range(lo, now, 60):
            points.append((m, minute + r.randrange(60), round(r.uniform(0, 100), 3)))
    n_fresh = len(points)
    n_rewrite = int(n_fresh * SHARE_REWRITE) if written else 0
    for m, minute in r.sample(written, min(n_rewrite, len(written))):
        points.append((m, minute + r.randrange(60), round(r.uniform(0, 100), 3)))
    # displaced: a share of lines arrive out of time order
    order = list(range(len(points)))
    k = int(len(order) * SHARE_DISPLACED)
    picked = r.sample(order, k)
    shuffled = picked[:]
    r.shuffle(shuffled)
    for a, b in zip(picked, shuffled):
        order[a] = b
    lines = ["%s %r %d" % (m, v, t) for m, t, v in (points[i] for i in order)]
    n_old = int(n_fresh * SHARE_OLD)
    for _ in range(n_old):
        m = r.choice(series)
        t = now - MAX_RETENTION_S - r.randrange(DAY, 10 * DAY)
        lines.insert(r.randrange(len(lines) + 1),
                     "%s %r %d" % (m, round(r.uniform(0, 100), 3), t))
    n_bad = int(n_fresh * SHARE_MALFORMED)
    for _ in range(n_bad):
        m = r.choice(series)
        lines.insert(r.randrange(len(lines) + 1),
                     _malformed(r, m, round(r.uniform(0, 100), 3), now - 1))
    expected = {"lines": len(lines), "dropped": n_bad,
                "parsed": len(lines) - n_bad, "rejected": n_old,
                "accepted": len(points)}
    return now, lines, expected, [(m, t, v) for m, t, v in points]


def carbon_batches(seed, cycles):
    """`cycles` consecutive carbon-cache flushes over 200 series."""
    r = random.Random(seed * 104729 + 3)
    series = series_names()
    written = []
    out = []
    for c in range(cycles):
        now, lines, expected, pts = carbon_cycle(r, c, series, written)
        written.extend(sorted({(m, t - t % 60) for m, t, _ in pts}))
        reads = {
            "fetch": r.choice(series),
            "fetchMany": r.sample(series, 5),
            "fetchGlob": "servers.host%02d.*" % r.randrange(HOSTS),
        }
        out.append({"cycle": c, "now": now, "lines": lines,
                    "expected": expected, "points": pts, "reads": reads})
    return out


def lww_model(batches):
    """The finest archive after the batches, as whisper defines it: a
    later batch overwrites a bucket; inside one batch the point with the
    largest (timestamp, value) wins."""
    model = {}
    for b in batches:
        best = {}
        for m, t, v in b["points"]:
            key = (m, t - t % 60)
            if key not in best or (t, v) > best[key]:
                best[key] = (t, v)
        for key, (_, v) in best.items():
            model[key] = v
    return model


# --------------------------------------------------------- corpus_batch

# one registered operator from each family the workload covers: dedup,
# similarity, text, token, curation, sketch and multimodal; the cheapest
# of each, so a run holds several passes
CORPUS_KEYS = [
    "dedup_simhash", "similarity_topk", "doc_chunk", "token_len_quantiles",
    "decontaminate", "sketch_cms", "multimodal_extract",
]


def corpus_sequence(seed, passes):
    """Passes over the operator set, each in its own seeded order: every
    key runs once before any repeats, and the repeats are what the plan
    memo can serve."""
    r = random.Random(seed * 31337 + 5)
    seq = []
    for _ in range(passes):
        keys = CORPUS_KEYS[:]
        r.shuffle(keys)
        seq += keys
    return seq


if __name__ == "__main__":
    print(json.dumps(corpus_stats(sys.argv[1]), indent=1))
