"""Runs a workload over several seeds and reports, per metric, the median and
the inter-quartile spread as a share of the median (the steadiness rule
BENCHMARK.json's bounds are checked against).

    python3 perfbench/spread.py --workload serve-http --seeds 1-10 [--trace 0]
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", default="0")
    args = ap.parse_args()
    lo, hi = (int(x) for x in args.seeds.split("-"))
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    values, walls = {}, []
    for seed in range(lo, hi + 1):
        t0 = time.monotonic()
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
                            "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
                            "--trace", args.trace], capture_output=True, text=True)
        walls.append(time.monotonic() - t0)
        if r.returncode != 0:
            print(f"seed {seed}: exit {r.returncode}\n{r.stderr[-2000:]}", file=sys.stderr)
            sys.exit(1)
        res = json.loads(r.stdout.strip().splitlines()[-1])
        print(f"seed {seed} ({walls[-1]:.0f} s): correct={res['correct']} "
              f"failed={res['failed']}/{res['attempted']} " +
              " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    print(f"wall per run: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
    for k, vs in values.items():
        med = statistics.median(vs)
        sp = stats.spread(vs) if len(vs) >= 2 and med else float("nan")
        b = bounds.get(k)
        print(f"{k:28s} median {med:12.4f}  spread {sp:6.3f}" + (f"  bound {b}" if b else ""))


if __name__ == "__main__":
    main()
