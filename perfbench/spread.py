"""Run one workload over several seeds and report each end-to-end metric's
median and quartile spread (IQR / median, quartiles as
``statistics.quantiles(values, n=4)`` gives them) next to its bound.

    python3 perfbench/spread.py --workload serve_hybrid --seeds 1-10 [--seconds 6]
"""
import argparse
import json
import pathlib
import statistics
import subprocess
import sys
import time

BENCH = pathlib.Path(__file__).resolve().parent
ROOT = BENCH.parent


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-5")
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    secs = a.seconds or spec["run_seconds"]
    runs, walls = [], []
    for s in seeds(a.seeds):
        t0 = time.monotonic()
        p = subprocess.run([sys.executable, str(BENCH / "run.py"), "--workload", a.workload, "--seed", str(s),
                            "--seconds", str(secs), "--trace", str(a.trace)],
                           cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        walls.append(time.monotonic() - t0)
        last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
        try:
            r = json.loads(last)
        except json.JSONDecodeError:
            print(f"seed {s}: no result (exit {p.returncode})\n{p.stdout[-3000:]}")
            continue
        runs.append(r)
        vals = " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items())
        print(f"seed {s}: exit {p.returncode} correct={r['correct']} failed={r['failed']}/{r['attempted']} "
              f"wall={walls[-1]:.1f}s {vals}", flush=True)
    if len(runs) < 2:
        return
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    print(f"\n{a.workload}: {len(runs)} runs, wall median {statistics.median(walls):.1f}s max {max(walls):.1f}s")
    for name in runs[0]["metrics"]:
        v = [r["metrics"][name]["value"] for r in runs]
        med = statistics.median(v)
        q = statistics.quantiles(v, n=4)
        spread = (q[2] - q[0]) / med if med else float("nan")
        b = bounds.get(name)
        flag = "" if b is None else ("  ok" if spread < b / 3 else ("  within bound" if spread <= b else "  OVER"))
        print(f"  {name:24s} median {med:10.4g}  spread {spread:6.3f}  bound {b}{flag}")


if __name__ == "__main__":
    main()
