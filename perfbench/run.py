"""Runs one benchmark workload and prints its result as the last stdout line.

    python3 perfbench/run.py --workload <serve-http|ingest-mutate>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds (perfbench/build.py).
With --trace 0 the result carries the end-to-end metrics; with --trace 1 a
traced run carries the per-layer metrics, and its spans, self times,
premise shares and tracing overhead (against an untraced run of the same
workload and seed, when one was made earlier in this checkout) are written
to .bench_build/perfbench/traces/.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import report  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("serve-http", "ingest-mutate")
DEADLINE_S = 170


def run_jvm(args, run_dir, budget_s):
    raw = os.path.join(run_dir, "raw.json")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    jsa = build.archive()
    cmd = (["java", "-Xmx2g", f"-Djava.io.tmpdir={tmp}"]
           + ([f"-XX:SharedArchiveFile={jsa}", "-Xlog:cds=off", "-Xlog:cds+dynamic=off"] if jsa else [])
           + build.java_opts()
           + ["-cp", build.classpath(), "graft.perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--dir", run_dir, "--out", raw])
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=build.java_env())
        try:
            code = p.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if code != 0 or not os.path.exists(raw):
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise SystemExit(f"perfbench: benchmark JVM failed ({code})")
    with open(raw) as fh:
        return json.load(fh)


def main():
    # a terminated benchmark still stops its JVM and removes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    try:
        build.build()
    except build.BuildError as e:
        print(f"perfbench: cannot build: {e}", file=sys.stderr)
        return 2
    t0 = time.monotonic()  # the build has its own allowance

    out = build.OUT
    run_dir = os.path.join(out, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        rec = run_jvm(args, run_dir, DEADLINE_S - (time.monotonic() - t0))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    e2e = report.end_to_end(rec)
    summary = report.summary(rec, e2e)
    key = f"{args.workload}-seed{args.seed}"
    results = os.path.join(out, "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, f"{key}-trace{args.trace}.json"), "w") as fh:
        json.dump({"end_to_end": e2e, "summary": summary}, fh)

    if args.trace:
        layer = report.per_layer(rec)
        metrics = {k: (layer[k], u) for k, u in report.PER_LAYER.items()}
        trace = {"summary": summary, "premises": report.premises(rec, e2e, layer),
                 "mutation": report.mutation(rec) if args.workload == "ingest-mutate" else None,
                 "self_ms": stats.self_times(rec["spans"]), "spans": rec["spans"],
                 "traced_end_to_end": e2e}
        untraced = os.path.join(results, f"{key}-trace0.json")
        if os.path.exists(untraced):
            with open(untraced) as fh:
                base = json.load(fh)["end_to_end"]
            trace["overhead"] = {k: {"traced": e2e[k], "untraced": base[k],
                                     "delta": e2e[k] - base[k],
                                     "share": (e2e[k] - base[k]) / base[k]} for k in e2e}
        traces = os.path.join(out, "traces")
        os.makedirs(traces, exist_ok=True)
        with open(os.path.join(traces, f"{key}.json"), "w") as fh:
            json.dump(trace, fh)
        print(json.dumps({k: trace[k] for k in ("premises", "self_ms")}), file=sys.stderr)
    else:
        metrics = {k: (e2e[k], u) for k, u in report.END_TO_END.items()}

    print(json.dumps(summary), file=sys.stderr)
    if rec["failures"]:
        print("failures: " + "; ".join(rec["failures"][:10]), file=sys.stderr)
    print(json.dumps({
        "correct": rec["failed"] == 0,
        "attempted": rec["attempted"],
        "failed": rec["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
