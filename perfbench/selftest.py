"""Self-test of the benchmark's own checks; needs no JVM.

    python3 perfbench/selftest.py

1. The generator is deterministic: one seed, one manifest hash.
2. An output computed from the generated inputs by a reference fold
   passes each workload's check.
3. Deliberately corrupted copies of that output fail it.
4. The span tree of a synthetic traced record has each root once, and the
   layers' self times plus the unattributed time add up to the traced wall.
"""

import os
import json
import shutil
import sys
import tempfile
import types
from datetime import datetime, timezone

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import analyze  # noqa: E402
import gen  # noqa: E402

STREAM = {"backlog_rows": 4000, "open_loop_s": 1.0, "release_interval_ms": 100,
          "open_rows_per_file": 50, "restarts": 2, "restart_rows": 100, "warm_rows": 100}
DEDUP = {"base_docs": 400, "shard_docs": 10, "rounds": 3, "round_shards": 4,
         "release_interval_ms": 100, "dup_share": 0.2, "junk_share": 0.1, "warm_docs": 20}


def events(work):
    """Every generated event, in the order the generator produced it."""
    backlog = pq.read_table(f"{work}/in/backlog").to_pydict()
    keys, vals = list(backlog["key"]), list(backlog["value"])
    for f in sorted(os.listdir(f"{work}/stage")):
        t = pq.read_table(f"{work}/stage/{f}").to_pydict()
        keys += t["key"]
        vals += t["value"]
    return keys, vals


def stream_output(work, keys, vals):
    """Reference fold: per-key running count and sum, one row per event."""
    state, rows = {}, {"key": [], "cnt": [], "total": []}
    for k, v in zip(keys, vals):
        c, s = state.get(k, (0, 0))
        state[k] = (c + 1, s + int(v))
        rows["key"].append(k)
        rows["cnt"].append(c + 1)
        rows["total"].append(s + int(v))
    return rows


def write_stream(work, rows):
    out = f"{work}/out/stream"
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(f"{out}/batch=0")
    pq.write_table(pa.table({"key": pa.array(rows["key"], pa.string()),
                             "cnt": pa.array(rows["cnt"], pa.int64()),
                             "total": pa.array(rows["total"], pa.int64())}),
                   f"{out}/batch=0/part-0.parquet")
    return [{"batch": 0, "rows": len(rows["key"])}]


def write_pairs(work, pairs):
    out = f"{work}/out/pairs"
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(f"{out}/batch=0")
    a, b = zip(*sorted(pairs)) if pairs else ((), ())
    pq.write_table(pa.table({"doc_a": pa.array(a, pa.int64()), "doc_b": pa.array(b, pa.int64())}),
                   f"{out}/batch=0/part-0.parquet")


def traced_record(work):
    """A traced stream_keyed record: a traced drain batch whose stateful
    output the benchmark persisted (caching 1000 bytes) before the sink
    wrote it, and a restart whose first batch graft ran alone (caching 50
    bytes of its own)."""
    def progress(batch, start_ms, phases):
        ts = datetime.fromtimestamp(start_ms / 1000, tz=timezone.utc)
        return json.dumps({"id": "q", "runId": f"r{batch}", "batchId": batch,
                           "timestamp": ts.isoformat(timespec="milliseconds").replace("+00:00", "Z"),
                           "numInputRows": 10, "durationMs": dict(phases, triggerExecution=sum(phases.values()))})
    t = 1_700_000_000_000
    at = {"batch": 5, "query": "q"}
    spans = [
        {"id": 1, "parent": 0, "name": "drain_traced", "layer": "op", "start_ms": t, "end_ms": t + 100},
        dict(at, id=2, parent=0, name="operators.update", layer="operators", persist=True,
             start_ms=t + 20, end_ms=t + 60),
        dict(at, id=3, parent=0, name="sinks.write", layer="sinks", start_ms=t + 60, end_ms=t + 80),
        {"id": 4, "parent": 0, "name": "restart", "layer": "op", "start_ms": t + 200,
         "end_ms": t + 300, "commit_ms": t + 260},
    ]
    task = lambda stage, stored: [stage, t, t + 30] + [0] * 9 + [stored]  # noqa: E731
    result = {
        "ops": [{"kind": "drain_traced", "start_ms": t, "end_ms": t + 100, "rows": 10},
                {"kind": "restart", "start_ms": t + 200, "end_ms": t + 300, "rows": 10,
                 "commit_ms": t + 260}],
        "stages": [], "marks": [{"name": "timed_start", "t_ms": t},
                                            {"name": "timed_end", "t_ms": t + 400}],
        "spans": spans,
        "jobs": [{"job": 0, "start_ms": t + 20, "stages": [0], "span": "2"},
                 {"job": 1, "start_ms": t + 210, "stages": [1], "span": "4"}],
        "job_ends": [[0, t + 60, True], [1, t + 250, True]],
        "tasks": [task(0, 1000), task(1, 50)],
        "progress": [progress(5, t + 10, {"latestOffset": 2, "walCommit": 3, "getBatch": 0,
                                          "queryPlanning": 3, "addBatch": 67, "commitOffsets": 5}),
                     progress(6, t + 210, {"latestOffset": 5, "walCommit": 5, "getBatch": 5,
                                           "queryPlanning": 5, "addBatch": 25, "commitOffsets": 5})],
    }
    rec = analyze.Record(result, work)
    return rec, t


def check_span_tree(work):
    rec, t = traced_record(work)
    batches = sorted(rec.batches, key=lambda b: b["start_ms"])
    spans = analyze.build_spans(rec, batches, "stream_keyed", "q", t, t + 400)
    roots = sorted(s["id"] for s in spans if s["layer"] == "op")
    expect("spans: each operation is one root", roots, ["1", "4"])
    parent = {s["id"]: s["parent"] for s in spans}
    expect("spans: the stateful update hangs under its batch's addBatch",
           parent["2"], "batch:5:addBatch")
    expect("spans: each batch hangs under the operation it ran in",
           (parent["batch:5"], parent["batch:6"]), ("1", "4"))
    totals, root_total, root_self = analyze.self_times(spans)
    expect("spans: traced wall is the roots' wall", root_total, 200.0)
    expect("spans: unattributed time is what no batch covers", root_self, 20.0 + 50.0)
    expect("spans: self times and unattributed time add up to the traced wall",
           sum(totals.values()) + root_self, root_total)
    expect("spans: operators and sinks self times",
           (totals["operators"], totals["sinks"]), (40.0, 20.0))
    expect("CacheScope: the benchmark's own persist is not counted",
           rec.graft_stored(rec.task_mask(t, t + 400)), 50.0)


def expect(label, got, want):
    if got != want:
        raise SystemExit(f"selftest FAILED: {label}: check returned {got}, expected {want}")
    print(f"ok   {label}")


def main():
    scratch = tempfile.mkdtemp(prefix="selftest-", dir=os.getcwd())
    try:
        h1 = gen.generate("stream_keyed", 7, f"{scratch}/a", STREAM)[1]
        h2 = gen.generate("stream_keyed", 7, f"{scratch}/b", STREAM)[1]
        h3 = gen.generate("stream_keyed", 8, f"{scratch}/c", STREAM)[1]
        expect("same seed gives the same manifest hash", h1 == h2, True)
        expect("another seed gives another manifest hash", h1 == h3, False)

        work = f"{scratch}/a"
        manifest = gen.generate("stream_keyed", 7, work, STREAM)[0]
        rec = types.SimpleNamespace(work=work)
        rows = stream_output(work, *events(work))
        batches = write_stream(work, rows)
        expect("stream: reference output passes", analyze.check_stream(rec, manifest, batches)[0], True)
        for label, corrupt in (
                ("stream: a lost event fails", lambda r: {k: v[1:] for k, v in r.items()}),
                ("stream: a replayed event fails",
                 lambda r: {k: v + v[-1:] for k, v in r.items()}),
                ("stream: a wrong sum fails",
                 lambda r: dict(r, total=r["total"][:-1] + [r["total"][-1] + 1]))):
            bad = corrupt(rows)
            b = write_stream(work, bad)
            b[0]["rows"] = len(rows["key"])
            expect(label, analyze.check_stream(rec, manifest, b)[0], False)

        work = f"{scratch}/d"
        manifest = gen.generate("dedup_incremental", 7, work, DEDUP)[0]
        rec = types.SimpleNamespace(work=work)
        planted = {tuple(p) for p in manifest["planted_pairs"]}
        n_shards = len(os.listdir(f"{work}/stage"))
        write_pairs(work, planted)
        expect("dedup: reference pairs pass",
               analyze.check_dedup(rec, manifest, 7, n_shards, scratch)[0], True)
        missing = sorted(planted)[1:]
        write_pairs(work, missing)
        expect("dedup: a missed planted pair fails",
               analyze.check_dedup(rec, manifest, 7, n_shards, scratch)[0], False)
        junk = manifest["junk_ids"]
        write_pairs(work, planted | {(min(junk[0], junk[1]), max(junk[0], junk[1]))})
        expect("dedup: a pair touching planted junk fails",
               analyze.check_dedup(rec, manifest, 7, n_shards, scratch)[0], False)
        write_pairs(work, planted | {(0, 1)})
        expect("dedup: a pair with no shard member fails",
               analyze.check_dedup(rec, manifest, 7, n_shards, scratch)[0], False)
        check_span_tree(scratch)
        print("selftest PASSED")
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    main()
