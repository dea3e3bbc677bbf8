"""Output checks and metrics for one benchmark run.

Input: the JVM's raw record (ops, releases, streaming progress, listener
jobs/stages/tasks, spans) plus the generator's manifest and the
files the run wrote. Output: correctness, attempted/failed operations, the
end-to-end metrics (untraced run) or the per-layer metrics (traced run),
and the span tree with each layer's self time.
"""

import glob
import hashlib
import json
import os
from datetime import datetime

import numpy as np
import pyarrow.parquet as pq

END_TO_END = {
    "setup_s": "s", "rows_per_s": "rows/s", "latency_p50_ms": "ms", "latency_p90_ms": "ms",
    "cpu_ms_per_krow": "ms", "restart_s": "s", "index_build_s": "s", "peak_rss_mb": "MB",
}

PER_LAYER = {
    "sources.rows_read": "count", "sources.bytes_read": "bytes",
    "sources.latest_offset_ms": "ms", "sources.get_batch_ms": "ms",
    "sources.input_lag_rows": "rows", "sources.input_lag_growth_rows": "rows",
    "time.watermark_lag_ms": "ms", "time.late_rows_dropped": "count",
    "operators.state_rows": "count", "operators.state_bytes": "bytes",
    "operators.state_commit_ms": "ms", "operators.state_update_ms": "ms",
    "operators.rows_out": "count",
    "streaming.planning_ms": "ms", "streaming.add_batch_ms": "ms",
    "streaming.wal_commit_ms": "ms", "streaming.commit_offsets_ms": "ms",
    "streaming.trigger_ms": "ms", "streaming.batches": "count",
    "streaming.no_data_batches": "count",
    "functions.text_fold_ms": "ms",
    "dedup.index_init_ms": "ms", "dedup.probe_ms": "ms", "dedup.append_ms": "ms",
    "dedup.pairs": "count", "dedup.planted_found_ratio": "ratio",
    "dedup.index_files": "count", "dedup.index_bytes": "bytes",
    "sinks.write_ms": "ms", "sinks.bytes_written": "bytes", "sinks.files_written": "count",
    "sinks.replays_skipped": "count",
    "CacheScope.frames": "count", "CacheScope.checkpoint_jobs": "count",
    "CacheScope.bytes_stored": "bytes",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.task_cpu_ms": "ms", "spark.task_wait_ms": "ms", "spark.gc_ms": "ms",
    "spark.shuffle_bytes": "bytes", "spark.skew_ratio": "ratio",
    "spark.speedup_vs_1core": "ratio",
    "trace.overhead_ms": "ms", "trace.unattributed_share": "ratio",
    "bench.release_late_ms": "ms",
}
LAYERS = ("sources", "time", "operators", "streaming", "functions", "dedup", "sinks",
          "CacheScope", "spark")
for _layer in LAYERS:
    PER_LAYER[f"{_layer}.self_ms"] = "ms"

# Micro-batch phases in execution order, with the layer each belongs to.
PHASES = (("latestOffset", "sources"), ("walCommit", "streaming"), ("getBatch", "sources"),
          ("queryPlanning", "streaming"), ("addBatch", "streaming"),
          ("commitOffsets", "streaming"))

TASK_COLS = ("stage", "launch", "finish", "cpu_ms", "run_ms", "gc_ms", "shuffle_w",
             "shuffle_r", "in_bytes", "in_rows", "out_bytes", "out_rows", "stored")


def iso_ms(ts):
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp() * 1000.0


def dur(o):
    return o["end_ms"] - o["start_ms"]


def median(xs):
    return float(np.median(xs)) if len(xs) else 0.0


def pct(xs, q):
    return float(np.percentile(xs, q)) if len(xs) else 0.0


class Record:
    """Indexed view of the JVM's raw record."""

    def __init__(self, result, work):
        self.r = result
        self.work = work
        self.ops = result["ops"]
        self.marks = {m["name"]: m["t_ms"] for m in result["marks"]}
        t = np.array(result["tasks"], dtype=np.float64).reshape(-1, len(TASK_COLS))
        self.tasks = {c: t[:, i] for i, c in enumerate(TASK_COLS)}
        ends = {e[0]: e[1] for e in result["job_ends"]}
        self.jobs = [dict(j, end_ms=ends.get(j["job"], j["start_ms"])) for j in result["jobs"]]
        stage_job = {s: j["job"] for j in self.jobs for s in j["stages"]}
        self.task_job = np.array([stage_job.get(int(s), -1) for s in self.tasks["stage"]],
                                 dtype=np.int64)
        self.stages = result["stages"]
        # Jobs run by the benchmark's own persists (traced runs only): the
        # blocks they cache are the benchmark's, not graft's.
        persist = {str(s["id"]) for s in result["spans"] if s.get("persist")}
        self.persist_jobs = {j["job"] for j in self.jobs if j["span"] in persist}
        self.batches = []
        for raw in result["progress"]:
            pg = json.loads(raw)
            start = iso_ms(pg["timestamp"])
            d = pg["durationMs"]
            self.batches.append({
                "query": pg["id"], "run": pg["runId"], "batch": pg["batchId"],
                "start_ms": start, "end_ms": start + d.get("triggerExecution", 0),
                "rows": pg["numInputRows"], "durations": d,
                "state": pg.get("stateOperators", []), "event_time": pg.get("eventTime", {})})

    def ops_of(self, *kinds):
        return [o for o in self.ops if o["kind"] in kinds]

    def task_mask(self, start, end):
        return (self.tasks["finish"] >= start) & (self.tasks["finish"] <= end)

    def task_sum(self, col, start, end):
        return float(self.tasks[col][self.task_mask(start, end)].sum())

    def graft_stored(self, mask):
        """Bytes graft's own persists and checkpoints cached in the tasks of `mask`."""
        own = ~np.isin(self.task_job, list(self.persist_jobs))
        return float(self.tasks["stored"][mask & own].sum())

    def main_batches(self, ckpt):
        """Batches of the query whose checkpoint is `ckpt`, in order."""
        with open(os.path.join(ckpt, "metadata")) as fh:
            qid = json.load(fh)["id"]
        return [b for b in sorted(self.batches, key=lambda b: b["start_ms"])
                if b["query"] == qid]


def file_batches(ckpt):
    """File name -> batch id, from the file-stream source's metadata log."""
    out = {}
    for f in sorted(glob.glob(os.path.join(ckpt, "sources", "0", "*"))):
        with open(f) as fh:
            for line in fh:
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = e["batchId"]
    return out


def read_dir(path, columns):
    files = sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
    if not files:
        return {c: np.array([]) for c in columns}
    tables = [pq.read_table(f, columns=columns) for f in files]
    return {c: np.concatenate([t.column(c).to_numpy(zero_copy_only=False) for t in tables])
            for c in columns}


def dir_stats(path):
    files = [f for f in glob.glob(os.path.join(path, "**", "*"), recursive=True)
             if os.path.isfile(f) and not os.path.basename(f).startswith((".", "_"))]
    return len(files), sum(os.path.getsize(f) for f in files)


# ------------------------------------------------------------------ checks

def check_stream(rec, manifest, batches):
    """Final per-key count and sum equal the generator's tally; every event
    yields exactly one output row, batch by batch."""
    out_root = os.path.join(rec.work, "out", "stream")
    failed, attempted = 0, 0
    for b in batches:
        if b["rows"] == 0:
            continue
        attempted += 1
        got = read_dir(os.path.join(out_root, f"batch={b['batch']}"), ["key"])["key"]
        if len(got) != b["rows"]:
            failed += 1
    out = read_dir(out_root, ["key", "cnt", "total"])
    keys, inv = np.unique(out["key"].astype(str), return_inverse=True)
    n = np.bincount(inv, minlength=len(keys))
    last = np.zeros(len(keys), dtype=np.int64)
    np.maximum.at(last, inv, out["cnt"].astype(np.int64))
    total_at_last = np.zeros(len(keys), dtype=np.int64)
    at_last = out["cnt"].astype(np.int64) == last[inv]
    total_at_last[inv[at_last]] = out["total"].astype(np.int64)[at_last]
    distinct = len({(int(i), int(c)) for i, c in zip(inv, out["cnt"])})
    got = {k: (int(c), int(t)) for k, c, t in zip(keys, last, total_at_last)}
    tally = {k: tuple(v) for k, v in manifest["tally"].items()}
    ok = (got == tally and distinct == len(out["cnt"]) and bool((n == last).all())
          and len(out["cnt"]) == manifest["events"])
    if not ok:
        failed = max(failed, 1)
    return ok and failed == 0, attempted, failed, len(out["cnt"])


def check_dedup(rec, manifest, seed, n_shards, root):
    """Every planted cross-shard pair is found, no pair touches planted junk,
    every pair has a shard member, and the pair set of a seed never changes."""
    out = read_dir(os.path.join(rec.work, "out", "pairs"), ["doc_a", "doc_b"])
    pairs = set(zip(out["doc_a"].astype(np.int64).tolist(), out["doc_b"].astype(np.int64).tolist()))
    planted = {tuple(x) for x in manifest["planted_pairs"]}
    junk = set(manifest["junk_ids"])
    base, size = manifest["base_docs"], manifest["shard_docs"]
    bad_ids = {b for a, b in planted - pairs}
    bad_ids |= {x for a, b in pairs for x in (a, b) if x in junk}
    bad_ids |= {b for a, b in pairs if b < base}
    bad_shards = {(i - base) // size for i in bad_ids if i >= base}
    failed = len(bad_shards) + (1 if bad_ids and not bad_shards else 0)
    digest = hashlib.sha256(json.dumps(sorted(pairs)).encode()).hexdigest()
    ref_dir = os.path.join(root, ".bench_out", "dedup_incremental")
    os.makedirs(ref_dir, exist_ok=True)
    ref = os.path.join(ref_dir, f"pairset-seed{seed}-shards{n_shards}.sha256")
    if os.path.exists(ref):
        with open(ref) as fh:
            if fh.read().strip() != digest:
                failed += 1
    elif failed == 0:
        with open(ref, "w") as fh:
            fh.write(digest + "\n")
    found = len(planted & pairs)
    return failed == 0, n_shards, failed, pairs, found, digest


# ----------------------------------------------------------------- metrics

def latency_samples(rec, ckpt, batches, phase):
    fb = file_batches(ckpt)
    end = {b["batch"]: b["end_ms"] for b in batches}
    lat, weights, late = [], [], []
    for r in rec.r["releases"]:
        if r["phase"] != phase:
            continue
        b = fb.get(os.path.basename(r["target"]))
        if b is None or b not in end:
            continue
        lat.append(end[b] - r["due_ms"])
        weights.append(int(r["rows"]))
        late.append(r["actual_ms"] - r["due_ms"])
    return np.array(lat), np.array(weights, dtype=np.int64), np.array(late)


def input_lag(rec, batches, phase, start, end):
    """Rows released but not yet committed at each batch end of the window."""
    rel = sorted((r["actual_ms"], int(r["rows"])) for r in rec.r["releases"]
                 if r["phase"] == phase)
    t = np.array([x[0] for x in rel])
    released = np.cumsum([x[1] for x in rel])
    committed, lags = 0, []
    for b in batches:
        if not start <= b["start_ms"] <= end:
            continue
        committed += b["rows"]
        i = int(np.searchsorted(t, b["end_ms"], side="right"))
        lags.append(float((released[i - 1] if i > 0 else 0) - committed))
    return lags


def spark_counters(rec, start, end):
    m = rec.task_mask(start, end)
    t = rec.tasks
    jobs = [j for j in rec.jobs if start <= j["start_ms"] <= end]
    stages = [s for s in rec.stages if start <= s[4] <= end]
    skews = []
    for s in {int(x) for x in t["stage"][m]}:
        d = (t["finish"] - t["launch"])[m & (t["stage"] == s)]
        if len(d) >= 2 and np.median(d) > 0:
            skews.append(float(d.max() / np.median(d)))
    return {
        "spark.jobs": len(jobs), "spark.stages": len(stages), "spark.tasks": int(m.sum()),
        "spark.task_cpu_ms": float(t["cpu_ms"][m].sum()),
        "spark.task_wait_ms": float((t["run_ms"][m] - t["cpu_ms"][m]).sum()),
        "spark.gc_ms": float(t["gc_ms"][m].sum()),
        "spark.shuffle_bytes": float(t["shuffle_w"][m].sum()),
        "spark.skew_ratio": median(skews),
        "sources.rows_read": float(t["in_rows"][m].sum()),
        "sources.bytes_read": float(t["in_bytes"][m].sum()),
        "sinks.bytes_written": float(t["out_bytes"][m].sum()),
    }


def batch_phase_medians(batches):
    live = [b for b in batches if b["rows"] > 0]
    d = lambda k: median([b["durations"].get(k, 0) for b in live])  # noqa: E731
    return {
        "sources.latest_offset_ms": d("latestOffset"), "sources.get_batch_ms": d("getBatch"),
        "streaming.planning_ms": d("queryPlanning"), "streaming.add_batch_ms": d("addBatch"),
        "streaming.wal_commit_ms": d("walCommit"), "streaming.commit_offsets_ms": d("commitOffsets"),
        "streaming.trigger_ms": d("triggerExecution"),
        "streaming.batches": len(batches),
        "streaming.no_data_batches": sum(1 for b in batches if b["rows"] == 0),
        "sinks.replays_skipped": len(batches) - len({b["batch"] for b in batches}),
    }


def classify_batch_jobs(rec, batch, query):
    """Jobs of one dedup micro-batch, split from outside: the last job that
    writes files is the sink's commit, earlier writers are index appends,
    jobs whose tasks cache blocks are CacheScope materializations, and the
    rest is the probe."""
    jobs = [j for j in rec.jobs if j["query_run"] == query and j["batch"] == str(batch)]
    out = []
    writers = []
    for j in sorted(jobs, key=lambda j: j["start_ms"]):
        mask = rec.task_job == j["job"]
        wrote = rec.tasks["out_bytes"][mask].sum() > 0
        kind = "write" if wrote else ("CacheScope" if rec.graft_stored(mask) > 0 else "dedup.probe")
        out.append([j, kind])
        if wrote:
            writers.append(len(out) - 1)
    for i in writers:
        out[i][1] = "sinks.write" if i == writers[-1] else "dedup.append"
    return out


# ------------------------------------------------------------------- spans

def build_spans(rec, batches, workload, query, start, end):
    """The JVM's spans of the window (roots are its operations), plus one
    span per micro-batch under the operation it ran in, its progress phases
    laid end to end as children, and on dedup_incremental its jobs."""
    spans = [dict(s, id=str(s["id"]), parent=str(s["parent"])) for s in rec.r["spans"]
             if start <= s["start_ms"] and s["end_ms"] <= end]
    roots = [s for s in spans if s["layer"] == "op"]
    for b in batches:
        parent = next((r["id"] for r in roots
                       if r["start_ms"] - 5 <= b["start_ms"] <= r["end_ms"] + 5), None)
        if parent is None:
            continue
        bid = f"batch:{b['batch']}"
        spans.append({"id": bid, "parent": parent, "name": "streaming.batch",
                      "layer": "streaming", "start_ms": b["start_ms"], "end_ms": b["end_ms"],
                      "batch": b["batch"], "rows": b["rows"]})
        t = b["start_ms"]
        for phase, layer in PHASES:
            d = b["durations"].get(phase, 0)
            spans.append({"id": f"{bid}:{phase}", "parent": bid, "name": f"streaming.{phase}",
                          "layer": layer, "start_ms": t, "end_ms": t + d})
            t += d
        if workload == "dedup_incremental":
            for j, kind in classify_batch_jobs(rec, b["batch"], query):
                spans.append({"id": f"job:{j['job']}", "parent": f"{bid}:addBatch",
                              "name": kind, "layer": kind.split(".")[0],
                              "start_ms": j["start_ms"], "end_ms": j["end_ms"]})
    for s in spans:
        if "batch" in s and s["layer"] in ("operators", "sinks") and s.get("query") == query:
            s["parent"] = f"batch:{s['batch']}:addBatch"
    return spans


def self_times(spans):
    """Per-layer self time: each span's duration minus the part of it that
    its children cover. Roots ("op") keep what no layer accounts for."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    totals = {layer: 0.0 for layer in LAYERS}
    root_total, root_self = 0.0, 0.0
    for s in spans:
        iv = sorted((max(c["start_ms"], s["start_ms"]), min(c["end_ms"], s["end_ms"]))
                    for c in children.get(s["id"], []))
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in iv:
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                covered += (cur_e - cur_s) if cur_e is not None else 0.0
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        covered += (cur_e - cur_s) if cur_e is not None else 0.0
        own = max(0.0, s["end_ms"] - s["start_ms"] - covered)
        s["self_ms"] = own
        if s["layer"] == "op":
            root_total += s["end_ms"] - s["start_ms"]
            root_self += own
        elif s["layer"] in totals:
            totals[s["layer"]] += own
    return totals, root_total, root_self


# ------------------------------------------------------------------ driver

def analyze(workload, seed, p, manifest, result, work, root, traced):
    rec = Record(result, work)
    ckpt = os.path.join(work, "ckpt")
    batches = rec.main_batches(ckpt)
    m = {k: 0.0 for k in PER_LAYER}
    index_build = rec.ops_of("index_build")
    e = {"setup_s": median(result["setup_s"]), "peak_rss_mb": result["peak_rss_mb"],
         "index_build_s": median([dur(o) / 1000 for o in index_build]),
         "restart_s": median([(o["commit_ms"] - o["start_ms"]) / 1000
                              for o in rec.ops_of("restart", "round")])}
    start, end = rec.marks["timed_start"], rec.marks["timed_end"]

    if workload == "stream_keyed":
        runs, phase = rec.ops_of("drain"), "open"
        correct, attempted, failed, rows_out = check_stream(rec, manifest, batches)
        m["operators.rows_out"] = rows_out
        open_phase = rec.ops_of("open_phase")[0]
        lags = input_lag(rec, batches, phase, open_phase["start_ms"], open_phase["end_ms"])
        third = max(1, len(lags) // 3)
        m["sources.input_lag_rows"] = median(lags)
        m["sources.input_lag_growth_rows"] = (float(np.mean(lags[-third:]) - np.mean(lags[:third]))
                                              if lags else 0.0)
        live = [b for b in batches if b["rows"] > 0]
        st = lambda b, k: sum(op.get(k, 0) for op in b["state"])  # noqa: E731
        m["operators.state_commit_ms"] = median([st(b, "commitTimeMs") for b in live])
        m["operators.state_update_ms"] = median([st(b, "allUpdatesTimeMs") for b in live])
        if live:
            m["operators.state_rows"] = st(live[-1], "numRowsTotal")
            m["operators.state_bytes"] = st(live[-1], "memoryUsedBytes")
        m["time.late_rows_dropped"] = sum(st(b, "numRowsDroppedByWatermark") for b in batches)
        wm = [iso_ms(b["event_time"]["max"]) - iso_ms(b["event_time"]["watermark"])
              for b in live if b["event_time"].get("watermark") and b["event_time"].get("max")
              and open_phase["start_ms"] <= b["start_ms"] <= open_phase["end_ms"]]
        m["time.watermark_lag_ms"] = median(wm)
        m["sinks.files_written"] = dir_stats(os.path.join(work, "out", "stream"))[0]
        # Traced runs: the second half of the drain ran traced, and the whole
        # drain was repeated untraced on one core.
        base, one, traced_runs = runs, rec.ops_of("drain_1core"), rec.ops_of("drain_traced")
        summary_extra = f"events={manifest['events']}"
    else:
        runs, phase = rec.ops_of("round"), "round"
        correct, attempted, failed, pairs, found, digest = check_dedup(
            rec, manifest, seed, manifest["shards"], root)
        m["dedup.pairs"] = len(pairs)
        m["dedup.planted_found_ratio"] = found / len(pairs) if pairs else 0.0
        m["dedup.index_files"], m["dedup.index_bytes"] = dir_stats(
            os.path.join(work, "warehouse", "sig_index0"))
        m["sinks.files_written"] = dir_stats(os.path.join(work, "out", "pairs"))[0]
        qid = batches[0]["query"] if batches else None
        probe, append, sink, frames, ckpt_jobs = [], [], [], 0, 0
        for b in batches:
            if b["rows"] == 0:
                continue
            jobs = classify_batch_jobs(rec, b["batch"], qid)
            a = sum(j["end_ms"] - j["start_ms"] for j, k in jobs if k == "dedup.append")
            s_ = sum(j["end_ms"] - j["start_ms"] for j, k in jobs if k == "sinks.write")
            append.append(a)
            sink.append(s_)
            probe.append(b["durations"].get("addBatch", 0) - a - s_)
            c = sum(1 for _, k in jobs if k == "CacheScope")
            frames += 1 if c else 0
            ckpt_jobs += c
        m["dedup.probe_ms"], m["dedup.append_ms"] = median(probe), median(append)
        m["sinks.write_ms"] = median(sink)
        m["CacheScope.frames"], m["CacheScope.checkpoint_jobs"] = frames, ckpt_jobs
        # Traced runs: the index build was repeated traced, and untraced on
        # one core.
        base, one = index_build, rec.ops_of("index_build_1core")
        traced_runs = rec.ops_of("index_build_traced")
        summary_extra = (f"shards={manifest['shards']} pairs={len(pairs)} planted_found={found} "
                         f"pairset={digest[:16]}")

    # Per operation (drain batch or round): input rows over wall, task CPU
    # per 1000 input rows; medians over the operations.
    e["rows_per_s"] = median([o["rows"] / (dur(o) / 1000) for o in runs])
    e["cpu_ms_per_krow"] = median([rec.task_sum("cpu_ms", o["start_ms"], o["end_ms"]) /
                                   (o["rows"] / 1000) for o in runs])
    # Latency per event on stream_keyed (a file's latency weighted by its
    # rows), per shard on dedup_incremental.
    lat, w, late = latency_samples(rec, ckpt, batches, phase)
    weighted = np.repeat(lat, w) if workload == "stream_keyed" else lat
    e["latency_p50_ms"] = pct(weighted, 50)
    e["latency_p90_ms"] = pct(weighted, 90)
    summary_extra += f" latency_samples={len(weighted)}"

    m.update(batch_phase_medians(batches))
    m.update(spark_counters(rec, start, end))
    m["CacheScope.bytes_stored"] = rec.graft_stored(rec.task_mask(start, end))
    m["bench.release_late_ms"] = pct(late, 99)

    spans, layers = [], {}
    if traced:
        if one and base:
            m["spark.speedup_vs_1core"] = median([dur(o) for o in one]) / median(
                [dur(o) for o in base])
        if traced_runs and base:
            m["trace.overhead_ms"] = median([dur(o) for o in traced_runs]) - median(
                [dur(o) for o in base])
        qid = batches[0]["query"] if batches else None
        spans = build_spans(rec, batches, workload, qid, start, end)
        totals, root_total, root_self = self_times(spans)
        span_named = lambda name: [dur(s) for s in spans if s["name"] == name]  # noqa: E731
        m["functions.text_fold_ms"] = median(span_named("functions.text_fold"))
        m["dedup.index_init_ms"] = median(span_named("dedup.index_init"))
        if workload == "stream_keyed":
            m["sinks.write_ms"] = median(span_named("sinks.write"))
        for layer, v in totals.items():
            m[f"{layer}.self_ms"] = v
        m["trace.unattributed_share"] = root_self / root_total if root_total else 0.0
        layers = {"self_ms": totals, "traced_wall_ms": root_total,
                  "unattributed_ms": root_self,
                  "tracing_overhead_ms": m["trace.overhead_ms"]}

    metrics = m if traced else e
    units = PER_LAYER if traced else END_TO_END
    out = {k: {"value": float(metrics[k]), "unit": units[k]} for k in units}
    summary = (f"correct={correct} attempted={attempted} failed={failed} "
               f"fail_ratio={failed / max(attempted, 1):.4f} {summary_extra}")
    return {"correct": bool(correct), "attempted": int(max(attempted, 1)),
            "failed": int(failed), "metrics": out, "summary": summary,
            "spans": spans, "layers": layers}
