#!/usr/bin/env python3
"""Per-query DuckDB baseline for the bench: times each oracle SQL over the
same parquet tables the Spark bench reads, so BENCH_r{N}.json carries both
engines' numbers and the "within 2x of baseline" criterion is computable
from the committed artifact alone.

Measurement discipline (same best-of accounting as the Spark side; each
engine runs the suite at ITS OWN measured-best concurrency):
  * per-query sequential latency = best of GRAFT_RUNS (default 2) runs —
    run 1 warms catalogs/page cache, run 2 is steady state;
  * suite throughput = best-of-GRAFT_RUNS wall-clock of the whole query
    set executed by GRAFT_DUCK_STREAMS (default 4) concurrent streams
    pulling from one queue, longest-query-first (classic makespan
    heuristic). DuckDB cursors share the connection's catalog and the GIL
    is released during execution, so streams genuinely overlap. NOTE:
    `SET threads` is a database-wide option in DuckDB (cursors share one
    pool), so the thread cap below bounds the WHOLE pass, not each
    stream; 4 streams over an 8-thread pool measured faster (4.8s) than
    uncapped 8 streams x all cores (13.5s) or sequential (7.9s) at sf0.1.

Usage: duckdb_bench.py <sf_dir> <oracle_sql.json> [bench_aux.json]

The optional third file levels the session-fixture asymmetry: {"fixtures":
{name: select_sql}, "overrides": {query: sql}}. Fixtures are materialized
ONCE as in-memory tables before the timed passes — main catalog, not temp
(temp tables are connection-local and the throughput pass's cursors would
miss them). This is the analogue of the Spark side's session-cached model
fits, whose cost best-of-N warm timing already excludes; the setup seconds
are REPORTED as "_fixture_setup". An
override replaces a query's canonical SQL only after an in-run equivalence
check (identical row multiset) — failures fall back to the canonical SQL
and are counted in "_override_mismatch".

Prints ONE JSON object {query_name: seconds, ...} on stdout with reserved
keys: "_wall_concurrent" (suite throughput wall seconds), "_concurrency"
(stream count), "_wall_runs" (wall pass count, mirrored from the Spark
side), "_canary"/"_canary_end" (host-noise probes), and the fixture keys
above. Queries that fail time as -1.0 and are excluded from the
concurrent pass.
"""
import glob
import json
import os
import queue
import sys
import threading
import time

import duckdb


def main() -> None:
    sf_dir, oracle_path = sys.argv[1], sys.argv[2]
    runs = max(1, int(os.environ.get("GRAFT_RUNS", "2")))
    # wall passes must match the Spark side's wall-pass count: taking
    # best-of-N over a DIFFERENT N per engine would bias the headline ratio
    # toward whichever engine sampled more (ADVICE r8). The caller passes
    # its own wall count through; default stays symmetric with `runs`.
    wall_runs = max(1, int(os.environ.get("GRAFT_WALL_RUNS", str(runs))))
    # DuckDB's own best concurrency differs from Spark's: each query is
    # already intra-parallel, so many streams thrash (8 streams: 11.2s
    # wall vs 7.3s sequential at sf0.1). Measured sweep over
    # (streams, global pool): 4/8 4.79s, 4/32 4.78s, 4/16 4.28s,
    # 2/32 4.12s, 3/32 3.97s, 2/16 3.95s — a few streams sharing the
    # full pool is its best mode; each engine runs the suite its own
    # best way.
    streams = max(1, int(os.environ.get("GRAFT_DUCK_STREAMS", "3")))
    pool = max(1, int(os.environ.get(
        "GRAFT_DUCK_THREADS", str(os.cpu_count() or 32))))
    with open(oracle_path) as f:
        sqls = json.load(f)
    aux = {}
    if len(sys.argv) > 3 and os.path.exists(sys.argv[3]):
        with open(sys.argv[3]) as f:
            aux = json.load(f)
    con = duckdb.connect()
    for p in glob.glob(os.path.join(sf_dir, "*.parquet")):
        name = os.path.splitext(os.path.basename(p))[0]
        src = os.path.join(p, "*.parquet") if os.path.isdir(p) else p
        con.execute(
            f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{src}')"
        )

    # session fixtures: materialize once, untimed for the per-query numbers
    # but reported so the artifact discloses the amortized cost
    fixture_setup = 0.0
    for name in sorted(aux.get("fixtures", {})):
        t0 = time.perf_counter()
        try:
            con.execute(
                f"CREATE OR REPLACE TABLE {name} AS {aux['fixtures'][name]}")
        except Exception:
            pass
        fixture_setup += time.perf_counter() - t0

    # overrides: swap in the amortized SQL only when it provably returns
    # the canonical oracle's exact row multiset in THIS run
    override_mismatch = 0
    for name in sorted(aux.get("overrides", {})):
        if name not in sqls:
            continue
        try:
            canonical = sorted(map(tuple, con.execute(sqls[name]).fetchall()))
            amortized = sorted(
                map(tuple, con.execute(aux["overrides"][name]).fetchall()))
            if canonical == amortized:
                sqls[name] = aux["overrides"][name]
            else:
                override_mismatch += 1
        except Exception:
            override_mismatch += 1

    # host-noise canary (PERF.md discipline): a warm lineitem aggregate runs
    # ~0.03s on a quiet host and >=0.2s when the box is degraded. Measured
    # before the per-query pass and again after the throughput pass so the
    # emitted artifact self-documents whether its window was quiet.
    def canary() -> float:
        sql = ("SELECT l_returnflag, sum(l_extendedprice) FROM lineitem "
               "GROUP BY 1")
        times = []
        for _ in range(3):  # first run warms the page cache; best-of is the
            t0 = time.perf_counter()  # host's capability, not its worst burst
            con.execute(sql).fetchall()
            times.append(time.perf_counter() - t0)
        return min(times)

    out = {}
    if aux:
        out["_fixture_setup"] = fixture_setup
        out["_override_mismatch"] = float(override_mismatch)
    try:
        out["_canary"] = canary()
    except Exception:
        out["_canary"] = -1.0
    for name in sorted(sqls):
        try:
            times = []
            for _ in range(runs):
                t0 = time.perf_counter()
                con.execute(sqls[name]).fetchall()
                times.append(time.perf_counter() - t0)
            out[name] = min(times)
        except Exception:
            out[name] = -1.0

    # throughput pass: longest-first queue drained by N streams
    ok = [n for n in sqls if out.get(n, -1.0) >= 0]
    q = queue.Queue()

    def worker() -> None:
        cur = con.cursor()
        cur.execute(f"SET threads={pool}")  # database-wide cap, see above
        while True:
            try:
                name = q.get_nowait()
            except queue.Empty:
                return
            try:
                cur.execute(sqls[name]).fetchall()
            except Exception:
                pass

    # best-of-`wall_runs` walls, symmetric with the Spark side: one wall is
    # hostage to a single bad interleave or host-contention burst
    walls = []
    for _ in range(wall_runs):
        for name in sorted(ok, key=lambda n: -out[n]):
            q.put(name)
        t0 = time.perf_counter()
        threads = [threading.Thread(target=worker) for _ in range(streams)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        walls.append(time.perf_counter() - t0)
    out["_wall_concurrent"] = min(walls)
    out["_concurrency"] = float(streams)
    out["_wall_runs"] = float(wall_runs)
    try:
        out["_canary_end"] = canary()
    except Exception:
        out["_canary_end"] = -1.0
    print(json.dumps(out))


if __name__ == "__main__":
    main()
