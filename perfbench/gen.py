"""Seeded input generator for the graft benchmark.

Every workload's inputs come from one numpy Generator seeded with
`--seed`, so the same seed always yields byte-identical inputs and the
same manifest hash. Inputs are written once, untimed, as parquet files;
files meant for open-loop release are staged outside the directories the
program watches and renamed into place on schedule by the benchmark JVM.

The manifest carries the ground truth the output checks use: per-key
tallies of the event stream, planted junk and planted duplicate pairs.
"""

import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# English stopwords of graft's langId/qualityScore inventory. Documents mix
# them with content words so that langId says "en" and qualityScore passes.
STOPWORDS = ["the", "and", "of", "to", "in", "is", "it", "that", "for", "with"]
# Stopwords of the other inventories: synthetic words must never equal one.
OTHER_STOPWORDS = {
    "der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "für",
    "el", "la", "de", "que", "y", "en", "un", "es", "por", "con",
    "le", "et", "les", "des", "est", "une", "dans"}

VOCAB_SIZE = 30000
QUALITY_MIN = 0.5
WATERMARK_DELAY_MS = 2000
PARTITIONS = 8
KEY_SPACE = 10000
ZIPF_S = 1.1


def vocabulary():
    """Fixed content-word vocabulary, identical for every seed."""
    rng = np.random.default_rng(20240101)
    cons = list("bcdfghjklmnprstvwz")
    vows = list("aeiou")
    words, seen = [], set(STOPWORDS) | OTHER_STOPWORDS
    while len(words) < VOCAB_SIZE:
        n = int(rng.integers(2, 5))
        w = "".join(cons[rng.integers(len(cons))] + vows[rng.integers(len(vows))]
                    for _ in range(n))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


VOCAB = vocabulary()
_ranks = np.arange(VOCAB_SIZE, dtype=np.float64)
VOCAB_P = 1.0 / (_ranks + 50.0)
VOCAB_P /= VOCAB_P.sum()
VOCAB_CDF = np.cumsum(VOCAB_P)


VOCAB_ARR = np.array(VOCAB, dtype=object)
STOP_ARR = np.array(STOPWORDS, dtype=object)


def many_docs(rng, n):
    """Word lists of `n` documents of 40-51 content words each, with a
    stopword after roughly every second content word and never two in a
    row, so that no 3-word shingle is made of stopwords alone (those would
    put unrelated documents into one MinHash bucket)."""
    lens = rng.integers(40, 52, size=n)
    total = int(lens.sum())
    content = np.minimum(np.searchsorted(VOCAB_CDF, rng.random(total)), VOCAB_SIZE - 1)
    stops = rng.integers(0, len(STOPWORDS), size=total)
    use_stop = rng.random(total) < 0.45
    out = np.empty(total + int(use_stop.sum()), dtype=object)
    pos = np.arange(total) + np.concatenate(([0], np.cumsum(use_stop)[:-1]))
    out[pos] = VOCAB_ARR[content]
    out[pos[use_stop] + 1] = STOP_ARR[stops[use_stop]]
    starts = pos[np.concatenate(([0], np.cumsum(lens)[:-1]))].tolist() + [len(out)]
    return [out[starts[i]:starts[i + 1]].tolist() for i in range(n)]


def render(words):
    """Join words into text with a full stop every twelve words."""
    w = list(words)
    w[11::12] = [x + "." for x in w[11::12]]
    return " ".join(w)


def junk_text(rng):
    """A low-quality document: digit runs and punctuation."""
    n = int(rng.integers(30, 50))
    toks = [str(int(x)) for x in rng.integers(0, 10**6, size=n)]
    return " ".join(t + "!?#"[int(rng.integers(3))] * 3 for t in toks)


class Digest:
    """Running sha-256 over everything the generator emits."""

    def __init__(self):
        self.h = hashlib.sha256()

    def table(self, name, table):
        self.h.update(name.encode())
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, table.schema) as writer:
            writer.write_table(table)
        self.h.update(sink.getvalue())

    def obj(self, name, obj):
        self.h.update(name.encode())
        self.h.update(json.dumps(obj, sort_keys=True).encode())

    def hexdigest(self):
        return self.h.hexdigest()


def write_parquet(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def write_docs(ids, texts, directory, files, digest, name):
    table = pa.table({"doc_id": pa.array(ids, pa.int64()),
                      "text": pa.array(texts, pa.string())})
    digest.table(name, table)
    n = len(ids)
    for f in range(files):
        lo, hi = n * f // files, n * (f + 1) // files
        write_parquet(table.slice(lo, hi - lo),
                      os.path.join(directory, f"part-{f:05d}.parquet"))


def singleton_docs(rng, n):
    return [render(w) for w in many_docs(rng, n)]


# --------------------------------------------------------------- stream_keyed

class EventClock:
    """Event time that advances 1 ms per event; each event's timestamp lies
    at most 0.8 x the watermark delay behind the clock, so no event is ever
    behind the watermark and results do not depend on batch boundaries."""

    base_ms = 1_704_067_200_000  # 2024-01-01T00:00:00Z

    def __init__(self):
        self.seq = 0

    def stamp(self, rng, n):
        clock = self.base_ms + np.arange(self.seq, self.seq + n, dtype=np.int64)
        self.seq += n
        jitter = rng.integers(0, int(WATERMARK_DELAY_MS * 0.8), size=n)
        return (clock - jitter) * 1000  # microseconds


_KEY_P = np.arange(1, KEY_SPACE + 1, dtype=np.float64) ** -ZIPF_S
KEY_CDF = np.cumsum(_KEY_P / _KEY_P.sum())


def zipf_keys(rng, n):
    return np.minimum(np.searchsorted(KEY_CDF, rng.random(n)), KEY_SPACE - 1)


class Topic:
    """Raw events plus the dense per-partition offsets KafkaShim assigns."""

    def __init__(self):
        self.next_offset = [0] * PARTITIONS
        self.tally = {}

    def events(self, rng, clock, n, partition=None):
        keys = zipf_keys(rng, n)
        vals = rng.integers(1, 1001, size=n)
        ts = clock.stamp(rng, n)
        seq = np.arange(clock.seq - n, clock.seq, dtype=np.int64)
        parts = (seq % PARTITIONS if partition is None
                 else np.full(n, partition, dtype=np.int64))
        counts = np.bincount(keys, minlength=KEY_SPACE)
        sums = np.bincount(keys, weights=vals, minlength=KEY_SPACE)
        for k in np.nonzero(counts)[0]:
            name = f"k{int(k):05d}"
            c, s = self.tally.get(name, (0, 0))
            self.tally[name] = (c + int(counts[k]), s + int(sums[k]))
        offsets = np.empty(n, dtype=np.int64)
        for prt in range(PARTITIONS):
            mask = parts == prt
            m = int(mask.sum())
            offsets[mask] = self.next_offset[prt] + np.arange(m)
            self.next_offset[prt] += m
        return {"partition": parts, "offset": offsets,
                "key": [f"k{int(k):05d}" for k in keys],
                "value": [str(int(v)) for v in vals], "ts": ts, "seq": seq}


def raw_table(ev):
    """Producer-side rows for KafkaShim.write: no offsets yet."""
    return pa.table({
        "partition": pa.array(ev["partition"], pa.int32()),
        "key": pa.array(ev["key"], pa.string()),
        "value": pa.array(ev["value"], pa.string()),
        "ts": pa.array(ev["ts"], pa.timestamp("us", tz="UTC")),
        "seq": pa.array(ev["seq"], pa.int64())})


def topic_file_table(ev):
    """A file in KafkaShim's topic layout (the partition lives in the path)."""
    return pa.table({
        "offset": pa.array(ev["offset"], pa.int64()),
        "key": pa.array(ev["key"], pa.string()),
        "value": pa.array(ev["value"], pa.string()),
        "ts": pa.array(ev["ts"], pa.timestamp("us", tz="UTC"))})


def release_files(rng, clock, topic, digest, work, prefix, count, rows, interval_ms):
    out = []
    for i in range(count):
        part = i % PARTITIONS
        ev = topic.events(rng, clock, rows, partition=part)
        t = topic_file_table(ev)
        digest.table(f"{prefix}{i}", t)
        name = f"{prefix}-{i:05d}.parquet"
        staged = f"{work}/stage/{name}"
        write_parquet(t, staged)
        out.append({"staged": staged,
                    "target": f"partition={part}/{name}",
                    "due_ms": i * interval_ms, "rows": rows})
    return out


def gen_stream_keyed(rng, work, p):
    digest = Digest()
    clock, topic = EventClock(), Topic()
    backlog = raw_table(topic.events(rng, clock, p["backlog_rows"]))
    digest.table("backlog", backlog)
    write_parquet(backlog, f"{work}/in/backlog/part-00000.parquet")
    interval = p["release_interval_ms"]
    n_open = max(1, int(p["open_loop_s"] * 1000 / interval))
    open_files = release_files(rng, clock, topic, digest, work, "open", n_open,
                               p["open_rows_per_file"], interval)
    restart_files = release_files(rng, clock, topic, digest, work, "restart",
                                  p["restarts"], p["restart_rows"], 0)
    warm_clock, warm_topic = EventClock(), Topic()
    wt = raw_table(warm_topic.events(rng, warm_clock, p["warm_rows"]))
    write_parquet(wt, f"{work}/in/warm/part-00000.parquet")
    digest.table("warm", wt)
    manifest = {
        "workload": "stream_keyed",
        "events": clock.seq,
        "backlog_rows": p["backlog_rows"],
        "tally": topic.tally,
    }
    digest.obj("manifest", manifest)
    files = {"open": open_files, "restart": restart_files}
    return manifest, digest, files


# ---------------------------------------------------------- dedup_incremental

def gen_dedup_incremental(rng, work, p):
    """A base corpus and rounds of shards. Both mix new documents with
    planted junk (which the quality gate must drop); shards also carry
    planted exact copies of earlier clean documents (which incremental dedup
    must pair) and of earlier junk (which it must never see). Within a
    round, shard i is due i x the release interval after the round starts."""
    digest = Digest()
    shard_size, interval = p["shard_docs"], p["release_interval_ms"]
    per_round = p["round_shards"]
    n_total = p["rounds"] * per_round
    pool = iter(singleton_docs(rng, p["base_docs"] + n_total * shard_size))
    texts, clean, junk = [], [], []
    copies = {}  # id of the original -> ids of its planted copies

    def new_doc(r):
        doc_id = len(texts)
        if r < p["junk_share"]:
            texts.append(junk_text(rng))
            junk.append(doc_id)
        else:
            texts.append(next(pool))
            clean.append(doc_id)
        return doc_id

    for _ in range(p["base_docs"]):
        new_doc(rng.random())
    write_docs(list(range(len(texts))), texts, f"{work}/in/base", 4, digest, "base")
    shards = []
    for s in range(n_total):
        first = len(texts)
        for _ in range(shard_size):
            r = rng.random()
            if r < p["dup_share"]:
                src = clean[int(rng.integers(len(clean)))]
            elif r < p["dup_share"] * 1.2:
                src = junk[int(rng.integers(len(junk)))]
            else:
                new_doc(rng.random())
                continue
            copies.setdefault(src, []).append(len(texts))
            texts.append(texts[src])
        ids = list(range(first, len(texts)))
        t = pa.table({"doc_id": pa.array(ids, pa.int64()),
                      "text": pa.array(texts[first:], pa.string())})
        digest.table(f"shard{s}", t)
        name = f"shard-{s:05d}.parquet"
        staged = f"{work}/stage/{name}"
        write_parquet(t, staged)
        shards.append({"staged": staged, "target": name,
                       "due_ms": (s % per_round) * interval, "rows": shard_size})
    junk_set = set(junk)
    planted = sorted((a, b) for src, cs in copies.items() if src not in junk_set
                     for group in [[src] + cs]
                     for i, a in enumerate(group) for b in group[i + 1:])
    wt = singleton_docs(rng, p["warm_docs"])
    write_docs(list(range(len(wt))), wt, f"{work}/in/warm_base", 1, digest, "warm_base")
    ws = singleton_docs(rng, shard_size)
    write_docs([10**9 + i for i in range(len(ws))], ws, f"{work}/in/warm_shard", 1,
               digest, "warm_shard")
    manifest = {
        "workload": "dedup_incremental",
        "base_docs": p["base_docs"],
        "shard_docs": shard_size,
        "shards": n_total,
        "junk_ids": junk + [c for src in junk for c in copies.get(src, [])],
        "planted_pairs": [list(x) for x in planted],
    }
    digest.obj("manifest", manifest)
    files = {"rounds": [shards[r:r + per_round] for r in range(0, n_total, per_round)]}
    return manifest, digest, files


GENERATORS = {
    "stream_keyed": gen_stream_keyed,
    "dedup_incremental": gen_dedup_incremental,
}


def generate(workload, seed, work, params):
    """Write the workload's inputs under `work`; return (manifest, hash, extra)."""
    rng = np.random.default_rng(seed)
    manifest, digest, extra = GENERATORS[workload](rng, work, params)
    return manifest, digest.hexdigest(), extra
