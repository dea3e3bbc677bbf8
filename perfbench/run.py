"""graft benchmark: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload stream_keyed --seed 1 --seconds 6 --trace 0

Run from the repository root. Builds graft's sources with scalac (cached
under the build directory), generates the seeded inputs, runs the workload
in one JVM on local[min(4, nproc)], checks the outputs against the
generator's ground truth, and prints one JSON line as the last line of
stdout. With --trace 1 it also writes spans and per-layer metrics under
`.bench_out/<workload>/`. See perfbench/README.md.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)

import analyze  # noqa: E402
import build  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("stream_keyed", "dedup_incremental")
RUN_LIMIT_S = 170


def params(workload, seconds):
    """Input sizes and schedules. --seconds sets the length of stream_keyed's
    open-loop phase; dedup_incremental runs a fixed number of rounds."""
    if workload == "stream_keyed":
        return {"backlog_rows": 160000, "open_loop_s": max(2.0, seconds),
                "release_interval_ms": 50, "open_rows_per_file": 250,
                "restarts": 3, "restart_rows": 5000, "warm_rows": 20000, "index_builds": 3}
    return {"base_docs": 6000, "index_builds": 3, "shard_docs": 15, "rounds": 8,
            "round_shards": 13, "release_interval_ms": 15, "dup_share": 0.05, "junk_share": 0.04,
            "warm_docs": 300}


def java_cmd(classpath, work, config, result):
    opens = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:ReservedCodeCacheSize=256m",
           f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
           "-Dlog4j2.level=error"]
    for o in opens:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    return cmd + ["-cp", classpath, "perfbench.Main", config, result]


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_begin = time.time()
    root = os.getcwd()

    classpath = build.build(root)

    work = os.path.join(root, ".bench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        p = params(args.workload, args.seconds)
        manifest, manifest_hash, files = gen.generate(args.workload, args.seed, work, p)
        slots = max(1, min(4, os.cpu_count() or 1))
        config = {"workload": args.workload, "work": work, "trace": bool(args.trace),
                  "seconds": args.seconds, "slots": slots, "shuffle_partitions": slots,
                  "setup_cycles": 2, "quality_min": gen.QUALITY_MIN,
                  "watermark_delay_ms": gen.WATERMARK_DELAY_MS,
                  "params": p, "files": files}
        cfg_path, res_path = os.path.join(work, "config.json"), os.path.join(work, "result.json")
        with open(cfg_path, "w") as fh:
            json.dump(config, fh)
        log_path = os.path.join(work, "jvm.log")
        budget = RUN_LIMIT_S - (time.time() - t_begin)
        with open(log_path, "w") as log:
            proc = subprocess.Popen(java_cmd(classpath, work, cfg_path, res_path),
                                    stdout=log, stderr=subprocess.STDOUT)
            try:
                code = proc.wait(timeout=max(10.0, budget))
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                code = "timeout"
        if code != 0 or not os.path.exists(res_path):
            with open(log_path) as fh:
                sys.stderr.write(fh.read()[-6000:])
            raise SystemExit(f"perfbench: JVM run failed ({code})")
        with open(res_path) as fh:
            result = json.load(fh)
        report = analyze.analyze(args.workload, args.seed, p, manifest, result, work, root,
                                 bool(args.trace))
        sys.stderr.write(f"perfbench: workload={args.workload} seed={args.seed} "
                         f"manifest={manifest_hash[:16]} {report['summary']}\n")
        if args.trace:
            out_dir = os.path.join(root, ".bench_out", args.workload)
            os.makedirs(out_dir, exist_ok=True)
            run_id = f"{args.workload}-seed{args.seed}-{manifest_hash[:12]}"
            with open(os.path.join(out_dir, f"spans-seed{args.seed}.jsonl"), "w") as fh:
                for s in report["spans"]:
                    fh.write(json.dumps(dict(s, run=run_id)) + "\n")
            with open(os.path.join(out_dir, f"layers-seed{args.seed}.json"), "w") as fh:
                json.dump({"manifest_hash": manifest_hash, "layers": report["layers"],
                           "metrics": report["metrics"]}, fh, indent=1, sort_keys=True)
        print(json.dumps({"correct": report["correct"], "attempted": report["attempted"],
                          "failed": report["failed"], "metrics": report["metrics"]}))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


if __name__ == "__main__":
    main()
