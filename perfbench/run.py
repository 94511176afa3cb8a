"""The engine's benchmark: one command per workload and seed.

    python3 perfbench/run.py --workload <pdi_scale|ingest_gate>
        --seed <n> --seconds <s> --trace <0|1>

It builds the engine and harness from source (``build.py``), generates the
workload's inputs from the seed (``gen.py``), runs the harness JVM with a
fixed session config (``local[nproc]``), checks every output, and prints one
JSON line last: ``correct``, ``attempted``, ``failed`` and the metrics --
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1`` (which also writes a per-op trace report under the build
directory). All scratch files live in a fresh run directory under the
build directory and are removed at exit.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402

ROOT = os.path.dirname(HERE)
WORKLOADS = ("pdi_scale", "ingest_gate")
RUN_LIMIT_S = 170  # a run, after the build, must end within this


def run_harness(cp, args, run_dir, inputs, manifest, out_json, timeout_s):
    cpus = len(os.sched_getaffinity(0))  # what nproc reports
    tables = ",".join(sorted(manifest["tables"]))
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:+UseG1GC",
           f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={tmp}"]
    for m in build.sbt_settings()[2]:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main", "--workload", args.workload,
            "--inputs", inputs, "--run", run_dir, "--out", out_json,
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cpus", str(cpus), "--tables", tables]
    # the session config is fixed: no Spark or engine settings from the
    # caller's environment reach the harness
    env = {k: v for k, v in os.environ.items()
           if not k.startswith(("SPARK_", "PYSPARK", "_JAVA_OPTIONS", "JAVA_TOOL_OPTIONS"))}
    log = open(os.path.join(run_dir, "harness.log"), "w")
    p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                         cwd=run_dir, start_new_session=True)
    try:
        rc = p.wait(timeout=timeout_s)
    except BaseException as e:  # timeout, or this process told to stop
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        if not isinstance(e, subprocess.TimeoutExpired):
            raise
        rc = "timeout"
    finally:
        log.close()
    if rc != 0:
        with open(os.path.join(run_dir, "harness.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"harness failed ({rc})")
    with open(out_json) as f:
        return json.load(f)


def _stop(signum, frame):
    raise SystemExit(f"stopped by signal {signum}")


def main():
    signal.signal(signal.SIGTERM, _stop)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    cp = build.build(build_dir)
    t0 = time.monotonic()
    run_dir = os.path.join(build_dir, "runs",
                           f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        inputs = os.path.join(run_dir, "inputs")
        manifest = gen.generate(args.workload, args.seed, inputs)
        out_json = os.path.join(run_dir, "result.json")
        result = run_harness(cp, args, run_dir, inputs, manifest, out_json,
                             RUN_LIMIT_S - (time.monotonic() - t0))
        failures = [(f"{f['op']}@pass{f['pass']}", f["error"]) for f in result["failures"]]
        attempted = result["attempted"]
        if args.workload != "ingest_gate":
            out_dir = os.path.join(run_dir, "out")
            dumped = sorted(n for n in os.listdir(out_dir)
                            if os.path.isdir(os.path.join(out_dir, n)))
            for name, why in oracle.check(inputs, out_dir, result["oracle_file"],
                                          dumped).items():
                failures.append((f"{name}@oracle", why))
        for k, why in failures:
            print(f"FAIL {k}: {why}")
        if args.trace:
            values, units = metrics.per_layer(result), metrics.PER_LAYER
            report_dir = os.path.join(build_dir, "trace")
            os.makedirs(report_dir, exist_ok=True)
            report = os.path.join(report_dir, f"{args.workload}-seed{args.seed}.json")
            with open(report, "w") as f:
                json.dump({"workload": args.workload, "seed": args.seed,
                           "manifest": manifest, "per_layer": values,
                           "ops": metrics.breakdown(result)}, f, indent=1)
            print(f"trace report: {os.path.relpath(report, ROOT)}")
        else:
            values, units = metrics.end_to_end(result, manifest), metrics.END_TO_END
        print(f"inputs: seed {args.seed}, " + ", ".join(
            f"{k} {v['rows']} rows/{v['bytes']} B" for k, v in sorted(manifest["tables"].items())))
        print(metrics.result_line(not failures, attempted, len(failures), values, units))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
