"""Seeded input generator for the graft benchmark.

Every input a workload feeds to graft is made here, from the workload seed
alone: the same seed gives byte-identical files, and every seed gives the
same sizes and distributions. The generator also records the properties of
what it produced (rows, distinct keys, key skew, bytes) in
`properties.json` beside the files.

    python3 perfbench/gen.py --workload online_serving --seed 7 --out DIR
"""
import argparse
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes per workload. They are fixed: only the seed varies between runs.
PIT = dict(users=20_000, events=400_000, history_days=60, facts=30_000,
           fact_sets=48, ttl_hours=12, window_hours=24, skew=0.8)
ONLINE = dict(users=20_000, batch_rows=2_000, batches=160, lookups=160,
              lookup_keys=32, buckets=16)
CURATION = dict(docs=1_500, vocab=3_000, dup_share=0.15)
STREAM = dict(users=200, events_per_file=400, open_files=260,
              backlog_chunks=5, backlog_files=40, file_event_seconds=1)

T0_US = 1_700_000_000 * 1_000_000  # history start, 2023-11-14 UTC
US_PER_S = 1_000_000

WORKLOADS = ("pit_training", "online_serving", "curation_recipe", "stream_ingest")


def zipf_probs(n, s=1.1):
    p = 1.0 / np.arange(1, n + 1) ** s
    return p / p.sum()


def skewed_keys(rng, n_keys, size, s=1.1):
    """Zipf-skewed draws over a seeded permutation of 0..n_keys-1, so the hot
    keys are spread over the id space (and over hash buckets)."""
    perm = rng.permutation(n_keys)
    return perm[rng.choice(n_keys, size=size, p=zipf_probs(n_keys, s))]


def ts_type():
    return pa.timestamp("us", tz="UTC")


def write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")
    return path


def key_props(keys):
    keys = np.asarray(keys)
    _, counts = np.unique(keys, return_counts=True)
    top = max(1, len(counts) // 100)
    return dict(distinct_keys=int(len(counts)),
                top1pct_key_share=round(float(np.sort(counts)[::-1][:top].sum()
                                              / max(1, len(keys))), 6))


def gen_pit(rng, out):
    c = PIT
    props = {}
    span_us = c["history_days"] * 86_400 * US_PER_S
    users = skewed_keys(rng, c["users"], c["events"], c["skew"])
    # even microseconds for events, odd for facts: no fact timestamp ever
    # equals an event timestamp or a window boundary, so PIT ties and
    # inclusive/exclusive window edges cannot make the answer ambiguous
    ts = T0_US + 2 * rng.integers(0, span_us // 2, size=c["events"])
    order = np.lexsort((ts, users))
    users, ts = users[order], ts[order]
    # one event per (user, ts): drop the rare collisions
    keep = np.ones(len(ts), dtype=bool)
    keep[1:] = (users[1:] != users[:-1]) | (ts[1:] != ts[:-1])
    users, ts = users[keep], ts[keep]
    amount = rng.integers(1, 1000, size=len(ts))
    ev = pa.table({"user_id": pa.array(users, pa.int64()),
                   "event_ts": pa.array(ts, ts_type()),
                   "amount": pa.array(amount, pa.int64())})
    write(ev, f"{out}/events/part-0.parquet")
    props["events"] = dict(rows=ev.num_rows, **key_props(users))
    segs = np.array(["a", "b", "c", "d", "e"])
    prof_users = np.arange(c["users"])
    prof = pa.table({"user_id": pa.array(prof_users, pa.int64()),
                     "segment": pa.array(segs[rng.integers(0, 5, c["users"])]),
                     "tier": pa.array(rng.integers(0, 4, c["users"]), pa.int32())})
    write(prof, f"{out}/profiles/part-0.parquet")
    props["profiles"] = dict(rows=prof.num_rows, distinct_keys=c["users"])
    all_fact_users = []
    for i in range(c["fact_sets"]):
        fu = skewed_keys(rng, c["users"], c["facts"], c["skew"])
        # fact times over the history, past the first day so windows fill
        fts = (T0_US + 86_400 * US_PER_S
               + 2 * rng.integers(0, (span_us - 86_400 * US_PER_S) // 2, c["facts"]) + 1)
        ft = pa.table({"fact_id": pa.array(np.arange(c["facts"]) + i * c["facts"], pa.int64()),
                       "user_id": pa.array(fu, pa.int64()),
                       "event_timestamp": pa.array(fts, ts_type()),
                       "label": pa.array(rng.integers(0, 2, c["facts"]), pa.int32())})
        write(ft, f"{out}/facts/set-{i:03d}/part-0.parquet")
        all_fact_users.append(fu)
    props["facts"] = dict(rows_per_op=c["facts"], sets=c["fact_sets"],
                          **key_props(np.concatenate(all_fact_users)))
    return props


def gen_online(rng, out):
    c = ONLINE
    props = {}
    n = c["users"]
    base = pa.table({"user_id": pa.array(np.arange(n), pa.int64()),
                     "score": pa.array(rng.integers(0, 1_000_000, n), pa.int64()),
                     "flag": pa.array(rng.integers(0, 2, n).astype(bool)),
                     "updated_at": pa.array(np.full(n, T0_US), ts_type())})
    write(base, f"{out}/base/part-0.parquet")
    props["base"] = dict(rows=n, distinct_keys=n)
    perm = rng.permutation(n)
    probs = zipf_probs(n)
    batch_keys = []
    for b in range(c["batches"]):
        # distinct keys within a batch (the store keeps one row per key and
        # generation), skewed toward the hot keys
        keys = perm[rng.choice(n, size=c["batch_rows"], replace=False, p=probs)]
        batch_keys.append(keys)
        bt = pa.table({"user_id": pa.array(keys, pa.int64()),
                       "score": pa.array(rng.integers(0, 1_000_000, len(keys)), pa.int64()),
                       "flag": pa.array(rng.integers(0, 2, len(keys)).astype(bool)),
                       "updated_at": pa.array(np.full(len(keys), T0_US + (b + 1) * US_PER_S),
                                              ts_type())})
        write(bt, f"{out}/batches/b-{b:04d}.parquet")
    allk = np.concatenate(batch_keys)
    props["batches"] = dict(count=c["batches"], rows_per_batch=c["batch_rows"],
                            **key_props(allk))
    # lookup j is served after upsert batch j-1 in the 1:1 mix: half of its
    # keys are hot draws, half come from the batch written just before it
    lookups = []
    for j in range(c["lookups"]):
        half = c["lookup_keys"] // 2
        hot = perm[rng.choice(n, size=half, p=probs)]
        src = batch_keys[j - 1] if j > 0 else perm[:1000]
        recent = rng.choice(src, size=c["lookup_keys"] - half, replace=False)
        keys = set(int(k) for k in np.concatenate([hot, recent]))
        while len(keys) < c["lookup_keys"]:  # top up repeated hot draws
            keys.add(int(perm[rng.choice(n, p=probs)]))
        lookups.append(sorted(keys))
    # the seeded mix: within each pair, which of lookup/upsert goes first
    first = ["L" if x else "U" for x in rng.integers(0, 2, c["lookups"])]
    with open(f"{out}/mix.json", "w") as f:
        json.dump({"lookups": lookups, "first": first}, f)
    props["lookups"] = dict(count=len(lookups), keys_per_lookup=c["lookup_keys"],
                            **key_props(np.concatenate([np.array(x) for x in lookups])))
    return props


def gen_docs(rng, out):
    c = CURATION
    # Zipfian vocabulary of pronounceable tokens; a small share of "symbol"
    # and short docs so the quality gate has work to do
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = np.array(["".join(letters[rng.integers(0, 26, rng.integers(3, 9))])
                      for _ in range(c["vocab"])])
    wp = zipf_probs(len(vocab), 1.05)
    texts, langs = [], []
    n_dup = int(c["docs"] * c["dup_share"])
    n_orig = c["docs"] - n_dup
    for i in range(n_orig):
        r = rng.random()
        nw = int(rng.integers(8, 19)) if r < 0.08 else int(rng.integers(25, 160))
        words = vocab[rng.choice(len(vocab), nw, p=wp)]
        if r > 0.95:  # symbol-heavy lines
            words = np.array([w + " ##" if k % 2 else w for k, w in enumerate(words)])
        lines = [" ".join(words[k:k + 12]) for k in range(0, len(words), 12)]
        texts.append("\n".join(lines))
        langs.append("en" if rng.random() < 0.6 else "de")
    # planted near-duplicate clusters: copies of an original with a few
    # words replaced
    for _ in range(n_dup):
        src = int(rng.integers(0, n_orig))
        words = texts[src].split(" ")
        for _ in range(max(1, len(words) // 25)):
            words[int(rng.integers(0, len(words)))] = vocab[int(rng.integers(0, len(vocab)))]
        texts.append(" ".join(words))
        langs.append(langs[src])
    order = rng.permutation(len(texts))
    texts = [texts[k] for k in order]
    langs = [langs[k] for k in order]
    docs = pa.table({"doc_id": pa.array(np.arange(len(texts)), pa.int64()),
                     "text": pa.array(texts),
                     "lang": pa.array(langs),
                     "source": pa.array([f"src{k % 7}" for k in range(len(texts))]),
                     "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    write(docs, f"{out}/docs/part-0.parquet")
    return {"docs": dict(rows=docs.num_rows, planted_near_dups=n_dup,
                         distinct_keys=docs.num_rows,
                         text_chars=int(sum(len(t) for t in texts)))}


def gen_stream(rng, out):
    c = STREAM
    n_files = c["open_files"] + c["backlog_chunks"] * c["backlog_files"]
    per = c["events_per_file"]
    fidx = np.repeat(np.arange(n_files), per)
    users = skewed_keys(rng, c["users"], n_files * per)
    # file i carries event times in [i, i+1) file-seconds; backlog chunks
    # follow the largest open-loop index, so they are never late
    span = c["file_event_seconds"] * US_PER_S
    ts = T0_US + fidx * span + rng.integers(0, span, size=len(fidx))
    ev = pa.table({"file_idx": pa.array(fidx, pa.int32()),
                   "user_id": pa.array(users, pa.int64()),
                   "event_ts": pa.array(ts, ts_type()),
                   "value": pa.array(rng.integers(1, 100, size=len(fidx)), pa.int64())})
    write(ev, f"{out}/stream_events/part-0.parquet")
    return {"stream_events": dict(rows=ev.num_rows, files=n_files, events_per_file=per,
                                  **key_props(users))}


GENERATORS = {"pit_training": gen_pit, "online_serving": gen_online,
              "curation_recipe": gen_docs, "stream_ingest": gen_stream}


def dir_bytes(path):
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def generate(workload, seed, out):
    """Write the workload's inputs for `seed` under `out` (replacing it) and
    return their recorded properties."""
    if os.path.exists(out):
        shutil.rmtree(out)
    os.makedirs(out)
    rng = np.random.default_rng([seed, WORKLOADS.index(workload)])
    tables = GENERATORS[workload](rng, out)
    for name, p in tables.items():
        path = os.path.join(out, name)
        if os.path.isdir(path):
            p["bytes"] = dir_bytes(path)
    props = {"workload": workload, "seed": seed, "tables": tables,
             "config": {"pit_training": PIT, "online_serving": ONLINE,
                        "curation_recipe": CURATION, "stream_ingest": STREAM}[workload],
             "bytes": dir_bytes(out)}
    with open(os.path.join(out, "properties.json"), "w") as f:
        json.dump(props, f, indent=1, sort_keys=True)
    return props


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    print(json.dumps(generate(a.workload, a.seed, a.out)["tables"], sort_keys=True))


if __name__ == "__main__":
    main()
