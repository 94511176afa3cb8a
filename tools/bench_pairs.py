"""Paired A/B of two checkouts on the benchmark in BENCHMARK.json.

    python3 tools/bench_pairs.py --parent <dir> --change <dir>
        [--workload <name> ...] [--pairs 10] [--seed 101]
        [--seconds <s>] [--claim <workload>:<metric>] [--trace 0|1]
        [--out results.json]

Runs ``perfbench/run.py`` in each checkout for ``--pairs`` seeds per
workload (seeds ``--seed``, ``--seed``+1, ...), alternating which side runs
first, and reads the last JSON line of every run. Each checkout builds and
runs from its own files; nothing under ``perfbench/`` is written.

With ``--trace 0`` it prints, per workload and end-to-end metric, each
side's median and quartiles and the pairs the change won (ties count for
neither side), then a verdict:

* the claimed metric (``--claim``) is a gain when the change wins at least
  nine tenths of the pairs run (a pair with a failed run counts as not
  won) and the medians differ, in the better direction, by more than the
  parent's interquartile range;
* every other metric is ``ok`` when the change's median is worse than the
  parent's by no more than the metric's bound, ``REGRESSED`` when it is
  worse by more, and ``unresolved`` when either side's IQR, relative to
  its median, exceeds the bound (unless every change run beats every
  parent run);
* the change's failed/attempted op share must not exceed the parent's;
  failed runs are reported on their own.

With ``--trace 1`` it prints each side's per-layer medians instead (no
verdict: the trace numbers explain a saving, they do not claim one).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def quartiles(xs):
    """(q1, median, q3), linear interpolation between order statistics."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def run_once(checkout, workload, seed, seconds, trace):
    """One ``perfbench/run.py`` run; its result line, or None if it failed."""
    cmd = [sys.executable, os.path.join("perfbench", "run.py"),
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(f"run failed: {checkout} {workload} seed {seed}\n"
                         f"{p.stderr[-2000:]}\n")
        return None
    return json.loads(lines[-1])


def better(metric, a, b):
    """+1 if ``a`` beats ``b`` on ``metric``, -1 if worse, 0 on a tie."""
    if a == b:
        return 0
    lower = metric["better"] == "lower"
    return 1 if (a < b) == lower else -1


def verdict(metric, parent, change, claimed, attempted):
    """Status of one end-to-end metric from the values of its complete
    pairs; ``attempted`` counts every pair run, complete or not."""
    pairs = list(zip(parent, change))
    pq1, pmed, pq3 = quartiles(parent)
    cq1, cmed, cq3 = quartiles(change)
    won = sum(1 for p, c in pairs if better(metric, c, p) > 0)
    lost = sum(1 for p, c in pairs if better(metric, c, p) < 0)
    gain = better(metric, cmed, pmed) > 0 and abs(cmed - pmed) > pq3 - pq1
    if claimed:
        ok = won >= 0.9 * attempted and gain
        return won, lost, "GAIN" if ok else "claim not met"
    bound = metric["bound"]
    worse = -better(metric, cmed, pmed) * abs(cmed - pmed) / abs(pmed) if pmed else 0.0
    spread = max((pq3 - pq1) / abs(pmed) if pmed else 0.0,
                 (cq3 - cq1) / abs(cmed) if cmed else 0.0)
    separated = all(better(metric, c, p) > 0 for c in change for p in parent)
    if spread > bound and not separated:
        return won, lost, f"unresolved (spread {spread:.3f} > bound {bound})"
    if worse > bound:
        return won, lost, f"REGRESSED (worse by {worse:.3f} > bound {bound})"
    side = "worse" if worse > 0 else "better"
    return won, lost, f"ok ({side} by {abs(worse):.3f}, bound {bound})"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", action="append")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=101)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--claim", action="append", default=[],
                    help="<workload>:<metric> the change claims to improve")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="write every run's result line here")
    args = ap.parse_args()

    with open(os.path.join(args.change, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = args.workload or [w["name"] for w in bench["workloads"]]
    seconds = args.seconds or bench["run_seconds"]
    claims = {tuple(c.split(":", 1)) for c in args.claim}
    sides = {"parent": args.parent, "change": args.change}
    runs = {w: {"parent": [], "change": []} for w in workloads}

    for w in workloads:
        for i in range(args.pairs):
            seed = args.seed + i
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            for side in order:
                res = run_once(sides[side], w, seed, seconds, args.trace)
                runs[w][side].append({"seed": seed, "result": res})
                brief = "failed" if res is None else "traced" if args.trace else " ".join(
                    f"{k}={v['value']:.4g}" for k, v in sorted(res["metrics"].items()))
                print(f"[{w} pair {i + 1}/{args.pairs} seed {seed}] {side}: {brief}",
                      flush=True)
        if args.out:
            with open(args.out, "w") as f:
                json.dump(runs, f, indent=1)

    names = [m["name"] for m in bench["per_layer" if args.trace else "end_to_end"]]
    by_name = {m["name"]: m for m in bench["end_to_end"]}
    for w in workloads:
        ok = [(p["result"], c["result"]) for p, c in zip(runs[w]["parent"], runs[w]["change"])
              if p["result"] is not None and c["result"] is not None]
        print(f"\n== {w}: {len(ok)} complete pairs of {args.pairs} at --seconds {seconds}")
        share = {}
        for side in ("parent", "change"):
            rs = [r["result"] for r in runs[w][side] if r["result"] is not None]
            att = sum(r["attempted"] for r in rs)
            bad = sum(r["failed"] for r in rs)
            share[side] = bad / att if att else 0.0
            print(f"   {side}: {bad} failed of {att} attempted ops, "
                  f"{args.pairs - len(rs)} failed runs")
        if share["change"] > share["parent"]:
            print("   FAILED SHARE WORSE on the change")
        if not ok:
            continue
        print(f"   {'metric':32s} {'parent q1/med/q3':>28s} {'change q1/med/q3':>28s}"
              + ("" if args.trace else "  won/lost  verdict"))
        for name in names:
            parent = [p["metrics"][name]["value"] for p, _ in ok]
            change = [c["metrics"][name]["value"] for _, c in ok]
            fmt = lambda q: "/".join(f"{v:.4g}" for v in q)  # noqa: E731
            line = f"   {name:32s} {fmt(quartiles(parent)):>28s} {fmt(quartiles(change)):>28s}"
            if not args.trace:
                won, lost, status = verdict(by_name[name], parent, change,
                                            (w, name) in claims, args.pairs)
                line += f"  {won:>3d}/{lost:<3d}  {status}"
            print(line)


if __name__ == "__main__":
    main()
