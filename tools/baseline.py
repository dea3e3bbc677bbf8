#!/usr/bin/env python3
"""Time every DuckDB oracle SQL statement in oracle_sql.json — the single-node
reference wall-time that BENCH_r{N}.json is graded against (BASELINE.json's
"within 2x of BASELINE" metric). Bench reads only the names it benches, so
there is no second copy of its headline list to keep in step.

DuckDB is the same engine the driver uses as the correctness oracle, run here
with all cores on the same box as the Spark bench, so spark_sec/duckdb_sec is
an apples-to-apples single-node throughput ratio.

Usage: baseline.py <sfDir> <oracle_sql.json> [repeat]
Writes baseline_times.json to cwd (read by Bench.scala and BASELINE.md).
"""
import sys, json, time, os
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main():
    sf_dir = sys.argv[1]
    oracle_path = sys.argv[2]
    repeat = int(sys.argv[3]) if len(sys.argv) > 3 else 2
    with open(oracle_path) as f:
        oracle = json.load(f)

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    times = {}
    for name in sorted(oracle):
        sql = oracle[name]
        best = None
        for _ in range(repeat):
            t0 = time.monotonic()
            n = len(con.execute(sql).fetchall())
            dt = time.monotonic() - t0
            best = dt if best is None else min(best, dt)
        times[name] = max(round(best, 3), 0.001)  # floor: 0.0 breaks ratio division downstream
        print(f"[baseline] {name:22s} {best:8.3f}s  ({n} rows)", file=sys.stderr)

    out = {"sf": sf_dir, "engine": f"duckdb-{duckdb.__version__}",
           "repeat": repeat, "queries": times,
           "total": round(sum(times.values()), 3)}
    with open("baseline_times.json", "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
