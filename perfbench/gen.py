"""Seeded input generator for the graft benchmark.

Writes parquet in the schemas of graft's test corpora (events: µs `ts`;
documents; embeddings: 64-dim float `embedding`). The engine only ever
sees these files. Every knob is returned in the run record.

    python3 perfbench/gen.py --workload promql_range --seed 1 --out DIR
"""
import argparse
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# 2024-01-01T00:00:00Z, the epoch of graft's own test corpora.
T0_US = 1704067200 * 1_000_000
DAY_S = 86400

COUNTERS = ["http_requests", "bytes_out"]
GAUGES = ["cpu_util", "queue_depth"]
REGIONS = ["eu", "us", "ap", "sa"]

PROMQL = dict(users=30, span_days=7, scrape_s=600, scrape_jitter_s=60,
              reset_prob=0.002, row_group_rows=8192)
RULER = dict(users=40, wave_events=3000, wave_span_s=3600, max_waves=16,
             dup_frac=0.02, late_frac=0.05, late_max_s=300)
CURATION = dict(shards=8, shard_docs=600, exact_dup_frac=0.10,
                near_dup_pairs=40, shard_vecs=400, vec_dim=64, clusters=8)

VOCAB = ("time series chunk label query range step rate window shard "
         "parquet column page row group sort merge compact write read "
         "index cache plan stage task shuffle spill batch stream state "
         "watermark alert rule record metric value sample counter gauge "
         "histogram bucket quantile dedup shingle minhash band jaccard "
         "cluster vector embed cosine probe cell centroid graph edge").split()

EVENTS_SCHEMA = pa.schema([
    ("event_id", pa.int64()), ("ts", pa.timestamp("us")),
    ("user_id", pa.int64()), ("event_type", pa.string()),
    ("value", pa.float64()), ("props", pa.string())])


def _props(k, region):
    # `"k": N` with the space: the engine's derived-label extractor
    # matches exactly this spelling.
    return json.dumps({"k": int(k), "region": region})


def series_values(rng, metric, n):
    if metric in COUNTERS:
        inc = rng.gamma(2.0, 5.0, n).round(3)
        v = np.cumsum(inc)
        resets = np.flatnonzero(rng.random(n) < PROMQL["reset_prob"])
        for r in resets:
            v[r:] -= v[r] - inc[r]
        return v.round(3)
    base = rng.uniform(10, 90)
    walk = np.cumsum(rng.normal(0, 1.5, n))
    return np.clip(base + walk, 0, None).round(3)


def promql_events(rng):
    c = PROMQL
    n = c["span_days"] * DAY_S // c["scrape_s"]
    cols = {k: [] for k in ("ts", "user_id", "event_type", "value", "props")}
    for u in range(1, c["users"] + 1):
        k, region = rng.integers(0, 10), REGIONS[u % len(REGIONS)]
        for m in COUNTERS + GAUGES:
            grid = np.arange(n, dtype=np.int64) * c["scrape_s"]
            jit = rng.integers(0, c["scrape_jitter_s"] * 1_000_000, n)
            cols["ts"].append(T0_US + grid * 1_000_000 + jit)
            cols["user_id"].append(np.full(n, u))
            cols["event_type"].extend([m] * n)
            cols["value"].append(series_values(rng, m, n))
            cols["props"].extend([_props(k, region)] * n)
    ts = np.concatenate(cols["ts"])
    order = np.argsort(ts, kind="stable")
    return pa.table({
        "event_id": np.arange(len(ts), dtype=np.int64),
        "ts": pa.array(ts[order], pa.timestamp("us")),
        "user_id": np.concatenate(cols["user_id"])[order].astype(np.int64),
        "event_type": pa.array(np.array(cols["event_type"])[order]),
        "value": np.concatenate(cols["value"])[order],
        "props": pa.array(np.array(cols["props"])[order]),
    }, schema=EVENTS_SCHEMA)


def ruler_waves(rng, out):
    """One parquet file per wave; wave i covers [i, i+1) × wave_span_s.
    A `dup_frac` share re-delivers an earlier event of the same wave
    (same event_id, ts, value); a `late_frac` share carries a ts up to
    `late_max_s` before the wave's start (inside the rule group's
    watermark delay)."""
    c = RULER
    users = np.arange(1, c["users"] + 1)
    metrics = COUNTERS + GAUGES
    counters = {}
    next_id = 0
    for w in range(c["max_waves"]):
        n = c["wave_events"]
        n_dup = int(n * c["dup_frac"])
        n_new = n - n_dup
        start_s = w * c["wave_span_s"]
        off = rng.integers(0, c["wave_span_s"] * 1_000_000, n_new)
        late = rng.random(n_new) < c["late_frac"]
        if w > 0:
            off[late] = -rng.integers(1, c["late_max_s"] * 1_000_000,
                                      int(late.sum()))
        ts = T0_US + start_s * 1_000_000 + off
        uid = rng.choice(users, n_new)
        mi = rng.integers(0, len(metrics), n_new)
        val = np.empty(n_new)
        order = np.argsort(ts, kind="stable")
        for j in order:
            key = (uid[j], mi[j])
            if metrics[mi[j]] in COUNTERS:
                counters[key] = counters.get(key, 0.0) + rng.gamma(2.0, 5.0)
                val[j] = counters[key]
            else:
                val[j] = rng.uniform(0, 100)
        ids = np.arange(next_id, next_id + n_new, dtype=np.int64)
        next_id += n_new
        dup = rng.choice(n_new, n_dup, replace=False)
        pick = np.concatenate([np.arange(n_new), dup])
        t = pa.table({
            "event_id": ids[pick],
            "ts": pa.array(ts[pick], pa.timestamp("us")),
            "user_id": uid[pick].astype(np.int64),
            "event_type": pa.array([metrics[i] for i in mi[pick]]),
            "value": val[pick].round(3),
            "props": pa.array([_props(u % 10, REGIONS[u % 4])
                               for u in uid[pick]]),
        }, schema=EVENTS_SCHEMA)
        pq.write_table(t, os.path.join(out, f"wave_{w:04d}.parquet"))


def _doc_text(rng, n_words):
    return " ".join(rng.choice(VOCAB, n_words))


def _near_copy(rng, text):
    words = text.split()
    for i in rng.choice(len(words), max(1, len(words) // 20), replace=False):
        words[i] = VOCAB[rng.integers(len(VOCAB))]
    return " ".join(words)


def curation_shard(rng, shard, out):
    """Documents with planted exact and near duplicates, and clustered
    embeddings. Planted near-duplicate pairs go to `planted.json`."""
    c = CURATION
    base_id = shard * 1_000_000
    n = c["shard_docs"]
    n_exact = int(n * c["exact_dup_frac"])
    n_near = c["near_dup_pairs"]
    n_orig = n - n_exact - n_near
    texts = [_doc_text(rng, int(rng.integers(40, 160))) for _ in range(n_orig)]
    planted = []
    for i in range(n_near):
        src = int(rng.integers(n_orig))
        texts.append(_near_copy(rng, texts[src]))
        planted.append([base_id + src, base_id + n_orig + i])
    texts += [texts[int(rng.integers(n_orig))] for _ in range(n_exact)]
    langs = rng.choice(["en", "de", "fr", "es", "zh"], n)
    docs = pa.table({
        "doc_id": np.arange(base_id, base_id + n, dtype=np.int64),
        "text": pa.array(texts),
        "lang": pa.array(langs),
        "source": pa.array([f"src{i % 7}" for i in range(n)]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    m, d, k = c["shard_vecs"], c["vec_dim"], c["clusters"]
    cents = rng.normal(0, 1, (k, d))
    label = rng.integers(0, k, m)
    vecs = cents[label] + rng.normal(0, 0.35, (m, d))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.table({
        "vec_id": np.arange(base_id, base_id + m, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": label.astype(np.int32),
    })
    os.makedirs(out, exist_ok=True)
    pq.write_table(docs, os.path.join(out, "documents.parquet"))
    pq.write_table(emb, os.path.join(out, "embeddings.parquet"))
    with open(os.path.join(out, "planted.json"), "w") as f:
        json.dump(planted, f)


WORKLOADS = ("promql_range", "curation_batch", "ruler_ingest")


def generate(workload, seed, out):
    """Write the workload's inputs under `out`; return the knobs."""
    rng = np.random.default_rng([seed, sum(map(ord, workload))])
    os.makedirs(out, exist_ok=True)
    if workload == "promql_range":
        t = promql_events(rng)
        # row groups small enough that a range query's time bounds can
        # skip some (the rows are written in ts order)
        pq.write_table(t, os.path.join(out, "events.parquet"),
                       row_group_size=PROMQL["row_group_rows"])
        knobs = dict(PROMQL, series=PROMQL["users"] * 4, samples=t.num_rows,
                     metrics=COUNTERS + GAUGES)
    elif workload == "ruler_ingest":
        ruler_waves(rng, out)
        knobs = dict(RULER, metrics=COUNTERS + GAUGES)
    elif workload == "curation_batch":
        for i in range(CURATION["shards"]):
            curation_shard(rng, i, os.path.join(out, f"shard_{i:03d}"))
        knobs = dict(CURATION)
    else:
        raise SystemExit(f"unknown workload {workload}")
    knobs.update(workload=workload, seed=seed, t0_us=T0_US)
    with open(os.path.join(out, "knobs.json"), "w") as f:
        json.dump(knobs, f)
    return knobs


def cached(workload, seed, work):
    """The inputs of (workload, seed) under `work`/data, generated on
    first use; returns (directory, knobs)."""
    out = os.path.join(work, "data", f"{workload}-{seed}")
    if not os.path.isfile(os.path.join(out, "knobs.json")):
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        generate(workload, seed, tmp)
        shutil.rmtree(out, ignore_errors=True)
        os.rename(tmp, out)
    with open(os.path.join(out, "knobs.json")) as f:
        return out, json.load(f)


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    print(json.dumps(generate(a.workload, a.seed, a.out)))
