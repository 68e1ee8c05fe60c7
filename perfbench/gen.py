"""Seeded input generator for the graft benchmark.

Writes parquet tables in the testdata schema (documents, events, customer,
embeddings) from a workload name and a seed. The same (workload, seed) pair
always produces byte-identical files; graft only ever sees these files.

Each workload's generator controls three properties the engine's behaviour
depends on, and returns them so the run can record them:
  * size           -- rows per table;
  * dup share      -- share of documents that are near- or exact copies;
  * key skew       -- Zipf exponent of event user ids (hot keys).
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Word lists shared with graft's dictionaries (graft.config.Dictionaries):
# the skills aliases, the English stopwords and the language markers. Docs
# draw from BASE, plus their language's markers; non-English docs drop the
# English markers so the language gate has something to decide.
BASE = ["key", "agg", "row", "scan", "table", "value", "part", "hash", "batch",
        "merge", "spark", "line", "sort", "window", "order", "data", "column",
        "join", "small", "big", "group", "filter", "query", "stream", "vector",
        "customer"]
EN_MARKERS = ["the", "a", "fast", "slow", "of", "and", "to", "in"]
LANG_MARKERS = {"de": ["der", "und", "nicht"], "fr": ["le", "la", "et"],
                "es": ["el", "los", "que"], "zh": ["de", "shi", "bu"]}
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.6, 0.1, 0.1, 0.1, 0.1]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
# messy spellings normalizeEnum must fold (and one it must reject)
EVENT_VARIANTS = [" Click", "VIEW ", "Purchase", "sign-up"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
DAY0 = np.datetime64("2024-01-04T00:00:00", "us")  # after p1's watermark
EMB_DIM = 32

# Per-workload input shape. corpus_build's corpus is three times sf0.1's
# 5,000 docs, so task CPU in the text kernels outweighs per-job cost (a
# build takes ~10 s on 4 cores); the other workloads are kept small, as
# their operations are bound by per-job cost at any size that fits a run.
# corpus_build's warm-up builds start on the corpus's first `warmup_docs`.
SHAPES = {
    "etl_daily": dict(days=4, users=1200, events_per_day=6000, user_skew=1.1,
                      near_dup=0.10, exact_dup=0.02),
    "corpus_build": dict(docs=15000, warmup_docs=2000, near_dup=0.15, exact_dup=0.05),
    "stream_intake": dict(docs=1000, near_dup=0.10, exact_dup=0.02),
    "store_reads": dict(docs=3000, near_dup=0.05, exact_dup=0.01, vectors=4000,
                        clusters=16, events=40000, users=3000, user_skew=1.1),
}


def _write(table: pa.Table, path: str) -> int:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 16)
    return os.path.getsize(path)


def _documents(rng, n: int, near_dup: float, exact_dup: float) -> pa.Table:
    """n docs; a `near_dup` share copies an earlier doc with one word changed
    (3-shingle Jaccard stays high for long docs), an `exact_dup` share copies
    one verbatim up to case and spacing."""
    texts, langs = [], []
    planted = 0
    kinds = rng.random(n)
    for i in range(n):
        if i > 10 and kinds[i] < exact_dup:
            j = int(rng.integers(0, i))
            texts.append("  " + texts[j].upper())
            langs.append(langs[j])
            planted += 1
            continue
        if i > 10 and kinds[i] < exact_dup + near_dup:
            j = int(rng.integers(0, i))
            ws = texts[j].split()
            ws[int(rng.integers(0, len(ws)))] = BASE[int(rng.integers(0, len(BASE)))]
            texts.append(" ".join(ws))
            langs.append(langs[j])
            planted += 1
            continue
        lang = LANGS[int(rng.choice(5, p=LANG_P))]
        vocab = BASE + (EN_MARKERS if lang == "en" else LANG_MARKERS[lang])
        length = int(rng.integers(30, 90))
        ws = [vocab[k] for k in rng.integers(0, len(vocab), size=length)]
        if lang != "en":  # enough markers that this language wins the argmax
            for p in rng.integers(0, length, size=max(3, length // 8)):
                ws[int(p)] = LANG_MARKERS[lang][int(rng.integers(0, 3))]
        texts.append(" ".join(ws))
        langs.append(lang)
    src = rng.zipf(1.5, size=n) % 20
    distinct = len({" ".join(t.split()).lower() for t in texts})
    stats = {"docs": n, "copied_share": planted / n, "exact_dup_share": 1 - distinct / n}
    return stats, pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array([f"src{s}" for s in src], pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _skewed_users(rng, n: int, users: int, skew: float) -> np.ndarray:
    """Zipf(skew) over a shuffled user order, so hot keys are spread out."""
    p = 1.0 / np.arange(1, users + 1) ** skew
    order = rng.permutation(users)
    return order[rng.choice(users, size=n, p=p / p.sum())].astype(np.int64)


def _events(rng, n: int, first_id: int, day: int, users: int, skew: float) -> pa.Table:
    offs = np.sort(rng.integers(0, 86_400_000_000, size=n))
    ts = DAY0 + np.timedelta64(day, "D") + offs.astype("timedelta64[us]")
    uid = _skewed_users(rng, n, users, skew)
    # users 0..7 (one per publish bucket) each get an event whose payload
    # parses (event_id % 10 != 0), so every daily publish touches all buckets
    uid[1:9] = np.arange(8)
    top = np.sort(np.bincount(uid, minlength=users))[::-1][: max(1, users // 100)]
    stats = {"events": n, "distinct_users": int(len(np.unique(uid))),
             "top1pct_user_share": float(top.sum() / n)}
    et = np.array(EVENT_TYPES, dtype=object)[rng.integers(0, 5, size=n)]
    messy = rng.random(n) < 0.05
    et[messy] = np.array(EVENT_VARIANTS, dtype=object)[rng.integers(0, 4, size=int(messy.sum()))]
    return stats, pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(uid),
        "event_type": pa.array(list(et), pa.string()),
        "value": pa.array(np.round(rng.random(n) * 600.0, 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)], pa.string()),
    })


def _customer(rng, n: int) -> pa.Table:
    return pa.table({
        "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{k:09d}" for k in range(n)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, size=n).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.random(n) * 10999.0 - 999.0, 2)),
        "c_mktsegment": pa.array(list(np.array(SEGMENTS, dtype=object)[rng.integers(0, 5, size=n)]),
                                 pa.string()),
    })


def _embeddings(rng, n: int, clusters: int) -> pa.Table:
    centers = rng.normal(size=(clusters, EMB_DIM))
    label = rng.integers(0, clusters, size=n)
    v = centers[label] + 0.35 * rng.normal(size=(n, EMB_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })


def generate(workload: str, seed: int, out: str) -> dict:
    """Write the workload's inputs under `out`; return what was generated."""
    shape = SHAPES[workload]
    rng = np.random.default_rng([seed, sorted(SHAPES).index(workload)])
    files, warmup = {}, {}

    def put(rel, table, into=files):
        into[rel] = {"rows": table.num_rows, "bytes": _write(table, os.path.join(out, rel))}

    realized = {}
    if workload == "etl_daily":
        realized["documents"], docs = _documents(rng, shape["users"], shape["near_dup"], shape["exact_dup"])
        cust = _customer(rng, shape["users"])
        for d in range(shape["days"]):
            realized[f"day{d}/events"], ev = _events(rng, shape["events_per_day"], d * shape["events_per_day"],
                                                     d, shape["users"], shape["user_skew"])
            put(f"day{d}/events.parquet", ev)
            put(f"day{d}/documents.parquet", docs)
            put(f"day{d}/customer.parquet", cust)
    elif workload in ("corpus_build", "stream_intake"):
        realized["documents"], docs = _documents(rng, shape["docs"], shape["near_dup"], shape["exact_dup"])
        put("documents.parquet", docs)
        if "warmup_docs" in shape:
            put("warmup/documents.parquet", docs.slice(0, shape["warmup_docs"]), warmup)
    elif workload == "store_reads":
        realized["documents"], docs = _documents(rng, shape["docs"], shape["near_dup"], shape["exact_dup"])
        put("documents.parquet", docs)
        put("embeddings.parquet", _embeddings(rng, shape["vectors"], shape["clusters"]))
        realized["events"], ev = _events(rng, shape["events"], 0, 0, shape["users"], shape["user_skew"])
        put("events.parquet", ev)
    else:
        raise ValueError(f"unknown workload {workload}")
    info = {"workload": workload, "seed": seed, "shape": shape, "files": files, "warmup_files": warmup,
            "realized": realized,
            "input_rows": sum(f["rows"] for f in files.values()),
            "input_bytes": sum(f["bytes"] for f in files.values())}
    with open(os.path.join(out, "inputs.json"), "w") as f:
        json.dump(info, f, indent=1, sort_keys=True)
    return info
