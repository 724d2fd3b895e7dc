"""Runs workloads once per seed and reports each metric's spread.

The spread of a metric is the distance between its first and third
quartiles over the runs, as a share of the median (quartiles as
`statistics.quantiles(values, n=4)` gives them).

    python3 perfbench/spread.py --seeds 1-10 [--workloads a,b] [--seconds 12] \
        [--trace 0] [--out spread.json]
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    report = {}
    for w in args.workloads.split(","):
        runs = []
        for s in seeds(args.seeds):
            p = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", w,
                                "--seed", str(s), "--seconds", str(args.seconds),
                                "--trace", str(args.trace)],
                               cwd=ROOT, capture_output=True, text=True)
            last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
            if p.returncode != 0 or not last.startswith("{"):
                print(f"{w} seed {s}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
                return 1
            res = json.loads(last)
            runs.append(res)
            print(f"{w} seed {s}: correct={res['correct']} " + " ".join(
                f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        metrics = {}
        for name in runs[0]["metrics"]:
            vals = [r["metrics"][name]["value"] for r in runs]
            metrics[name] = {"median": statistics.median(vals),
                             "spread": spread(vals) if len(vals) > 1 else 0.0,
                             "bound": bounds.get(name), "values": vals}
            b = bounds.get(name)
            note = f" (bound {b}, a third {b / 3:.3f})" if b else ""
            print(f"{w} {name}: median {metrics[name]['median']:.5g} "
                  f"spread {metrics[name]['spread']:.4f}{note}")
        report[w] = {"all_correct": all(r["correct"] for r in runs), "metrics": metrics}
    if args.out:
        Path(args.out).write_text(json.dumps(report, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
