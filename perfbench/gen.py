"""Seeded input generators for the benchmark workloads.

Every generator takes a seed and writes only files; the same seed gives
byte-identical files, a different seed gives different ones. Each
generator returns the ground truth the correctness gates check against.

Inputs:
  * an SCC conversation-JSON tree (one conversation per file, nested
    directories) for the scc_* workloads;
  * `documents`, `embeddings` and `events` parquet tables, with the same
    schemas as the engine's driver tables, for the batch and streaming
    workloads.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Consonant-vowel syllables ending in a vowel: such words never match the
# lemmatizer's suffix rules or the stopword list, so every generated word
# survives preprocessing unchanged.
_CONS = list("bdfgklmnprtvz")
_VOWS = list("aiou")

BOILERPLATE = ("This message contains files. If the description for a file "
               "does not make sense, ignore it.Here are descriptions of those "
               "files:")

# Sizes of each workload's inputs, chosen so one pass takes a few seconds
# on local[4].
SCC_STREAM = dict(files=300, msgs_per_conv=(8, 16), vocab=3000, zipf=1.1,
                  dup_share=0.1, telegram_share=0.05, depth=(1, 3))
CURATION = dict(docs=1000, vocab=6000, zipf=1.1, doc_len=(20, 60),
                near_dup_share=0.2, dim=64, clusters=16)
REPLAY = dict(events=4000, users=1000, user_zipf=1.1, docs=1000,
              vocab=3000, zipf=1.1, doc_len=(10, 30))


def vocabulary(rng, n):
    """`n` distinct pseudo-words of 2-4 syllables, in a seeded order."""
    words, seen = [], set()
    while len(words) < n:
        k = int(rng.integers(2, 5))
        w = "".join(_CONS[int(rng.integers(len(_CONS)))] +
                    _VOWS[int(rng.integers(len(_VOWS)))] for _ in range(k))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def zipf_probs(n, s):
    p = 1.0 / np.arange(1, n + 1) ** s
    return p / p.sum()


def sentences(rng, words, probs, lengths):
    """One space-joined sentence per entry of `lengths`."""
    idx = rng.choice(len(words), size=int(np.sum(lengths)), p=probs)
    out, pos = [], 0
    for n in lengths:
        out.append(" ".join(words[i] for i in idx[pos:pos + n]))
        pos += n
    return out


# ------------------------------------------------------------- SCC tree

def scc_tree(root, seed, spec):
    """Write a conversation-JSON tree under `root/test_convs`.

    Message times are a seeded permutation of distinct integers, so the
    engine's global time order is known here. Returns the ground truth:
    file and message counts, the kept inbound messages in stream order,
    the exact duplicates injected into that stream, and a burst token
    that appears only in the last 25 stream messages.
    """
    rng = np.random.default_rng(seed)
    words = vocabulary(rng, spec["vocab"] + 1)
    burst_token, words = words[0], words[1:]
    probs = zipf_probs(len(words), spec["zipf"])
    n_files = spec["files"]
    lo, hi = spec["msgs_per_conv"]
    sizes = rng.integers(lo, hi + 1, size=n_files)
    total = int(sizes.sum())
    bodies = sentences(rng, words, probs, rng.integers(4, 14, size=total))
    times = rng.permutation(total).astype(np.int64) * 7 + 1_600_000_000
    # messages alternate inbound/outbound starting with a seeded side
    first_in = rng.integers(0, 2, size=n_files)
    telegram = rng.random(n_files) < spec["telegram_share"]
    empty = rng.random(total) < 0.02
    boiler = rng.random(total) < 0.05

    conv_of = np.repeat(np.arange(n_files), sizes)
    pos_in_conv = np.arange(total) - np.repeat(np.cumsum(sizes) - sizes, sizes)
    inbound = ((pos_in_conv + first_in[conv_of]) % 2) == 0
    kept = inbound & ~telegram[conv_of] & ~empty
    # stream order = time order of kept messages
    kept_idx = np.flatnonzero(kept)
    order = kept_idx[np.argsort(times[kept_idx], kind="stable")]

    # inject exact duplicates: a later stream message repeats an earlier one
    n_dup = int(len(order) * spec["dup_share"])
    dup_at = np.sort(rng.choice(np.arange(1, len(order) - 50), size=n_dup,
                                replace=False))
    for p in dup_at:
        src = int(rng.integers(0, p))
        bodies[order[p]] = bodies[order[src]]
    # the burst token rides the last 25 stream messages only
    for p in range(len(order) - 25, len(order)):
        bodies[order[p]] = bodies[order[p]] + " " + burst_token

    split = os.path.join(root, "test_convs")
    d_lo, d_hi = spec["depth"]
    start = 0
    for f in range(n_files):
        n = int(sizes[f])
        msgs = []
        for i in range(start, start + n):
            body = "" if empty[i] else bodies[i]
            if boiler[i] and body:
                body = BOILERPLATE + "Description for file 3: " + body
            msgs.append({
                "body": body,
                "time": int(times[i]),
                "medium": "Telegram" if telegram[f] and i == start else "Email",
                "is_inbound": bool(inbound[i]),
            })
        start += n
        depth = int(d_lo + f % (d_hi - d_lo + 1))
        parts = [f"g{(f >> (3 * k)) % 8}" for k in range(depth)]
        d = os.path.join(split, *parts)
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, f"conv_{f:05d}.json"), "w") as fh:
            json.dump({"messages": msgs}, fh, separators=(",", ":"))

    def first_n_truth(n):
        """Ground truth of the first n stream messages."""
        n = min(n, len(order))
        seen, dups = set(), 0
        for p in range(n):
            b = bodies[order[p]]
            if b in seen and len(b.split()) >= 3:
                dups += 1
            seen.add(b)
        return {"processed": n, "exact_dups": dups}

    return {
        "files": n_files,
        "messages_in": total,
        "messages_kept": int(len(order)),
        "burst_token": burst_token,
        "truth": first_n_truth,
    }


# -------------------------------------------------------- parquet tables

def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def documents(path, seed, n, vocab, zipf, doc_len, near_dup_share):
    """`documents` with a Zipf vocabulary and a share of near-duplicates
    (a copy of an earlier document with one token changed, or an exact
    copy)."""
    rng = np.random.default_rng(seed)
    words = vocabulary(rng, vocab)
    probs = zipf_probs(vocab, zipf)
    texts = sentences(rng, words, probs,
                      rng.integers(doc_len[0], doc_len[1] + 1, size=n))
    is_dup = rng.random(n) < near_dup_share
    is_dup[0] = False
    for i in np.flatnonzero(is_dup):
        src = texts[int(rng.integers(0, i))].split()
        if rng.random() < 0.5:
            src[int(rng.integers(len(src)))] = words[int(rng.integers(vocab))]
        texts[i] = " ".join(src)
    table = pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(["en"] * n, pa.string()),
        "source": pa.array([f"src{i % 7}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    _write(table, path)


def embeddings(path, seed, n, dim, clusters):
    """Clustered unit-scale vectors: cluster centre plus noise."""
    rng = np.random.default_rng(seed)
    centres = rng.normal(0, 1, size=(clusters, dim)) / np.sqrt(dim)
    label = rng.integers(0, clusters, size=n)
    vec = (centres[label] + rng.normal(0, 0.35, size=(n, dim)) / np.sqrt(dim))
    vec = vec.astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(vec.reshape(-1)), dim)
    table = pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": emb.cast(pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })
    _write(table, path)


EVENT_TYPES = ["view", "click", "purchase", "error", "signup"]
EVENT_PROBS = [0.45, 0.25, 0.15, 0.1, 0.05]


def exact_counts(n, probs):
    """Counts summing to n in the proportions `probs` (largest remainder)."""
    raw = np.asarray(probs) * n
    counts = np.floor(raw).astype(np.int64)
    counts[np.argsort(counts - raw)[:n - counts.sum()]] += 1
    return counts


def events(path, seed, n, users, user_zipf):
    """`events` with Zipf-skewed user ids. Every seed has the same number
    of events per user rank and per event type, so the key skew is a
    fixed property of the workload; the seed deals them out. Returns the
    share of events that belong to the hottest user."""
    rng = np.random.default_rng(seed)
    gaps = rng.exponential(20.0, size=n)          # seconds between events
    ts_us = (1_704_067_200 + np.cumsum(gaps)) * 1e6
    per_user = exact_counts(n, zipf_probs(users, user_zipf))
    uid = rng.permutation(np.repeat(rng.permutation(users), per_user))
    etype = rng.permutation(np.repeat(np.arange(len(EVENT_TYPES)),
                                      exact_counts(n, EVENT_PROBS)))
    table = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts_us.astype(np.int64), pa.timestamp("us")),
        "user_id": pa.array(uid.astype(np.int64)),
        "event_type": pa.array([EVENT_TYPES[i] for i in etype], pa.string()),
        "value": pa.array(np.round(rng.random(n) * 20, 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
                          pa.string()),
    })
    _write(table, path)
    return float(np.bincount(uid).max() / n)


def generate(workload, root, seed):
    """Write the inputs of `workload` under `root`; return the ground
    truth its checks and item counts need."""
    os.makedirs(root, exist_ok=True)
    if workload == "scc_stream":
        return scc_tree(root, seed, SCC_STREAM)
    if workload == "curation_batch":
        c = CURATION
        documents(os.path.join(root, "documents.parquet"), seed, c["docs"],
                  c["vocab"], c["zipf"], c["doc_len"], c["near_dup_share"])
        embeddings(os.path.join(root, "embeddings.parquet"), seed + 1,
                   c["docs"], c["dim"], c["clusters"])
        return {"docs": c["docs"]}
    if workload == "stream_replay":
        r = REPLAY
        hot = events(os.path.join(root, "events.parquet"), seed, r["events"],
                     r["users"], r["user_zipf"])
        documents(os.path.join(root, "documents.parquet"), seed + 1,
                  r["docs"], r["vocab"], r["zipf"], r["doc_len"], 0.2)
        return {"events": r["events"], "hot_key_share": hot}
    raise ValueError(f"unknown workload: {workload}")
