"""Compares two sets of benchmark artifacts: environment, then per-layer
counters, then end-to-end medians with quartiles, per workload.

    python3 perfbench/benchdiff.py BEFORE AFTER

BEFORE and AFTER are artifact files or directories of them (run.py writes
one per run to .bench_build/artifacts/). Runs of one workload are pooled
over seeds. Counters come first because they are deterministic: a changed
stage count explains a changed wall time, and needs no second run to
believe. Comparing an untraced set with a traced set of the same code
reads off the tracing overhead.
"""
import json
import statistics
import sys
from pathlib import Path

ENV_KEYS = ("conf_hash", "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "cpus", "shuffle_partitions", "spark_version", "jdk", "rev")


def load(path):
    p = Path(path)
    files = sorted(p.glob("*.json")) if p.is_dir() else [p]
    out = {}
    for f in files:
        a = json.loads(f.read_text())
        if "workload" in a and "metrics" in a:
            out.setdefault(a["workload"], []).append(a)
    return out


def quartiles(vals):
    if len(vals) == 1:
        return vals[0], vals[0], vals[0]
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    return q1, statistics.median(vals), q3


def fmt(x):
    return f"{x:.4g}" if isinstance(x, (int, float)) else str(x)


def diff(before, after, out=sys.stdout):
    for w in sorted(set(before) | set(after)):
        a, b = before.get(w, []), after.get(w, [])
        print(f"== {w}: {len(a)} run(s) before, {len(b)} after", file=out)
        if not a or not b:
            continue
        for k in ENV_KEYS:
            va = sorted({str(x["env"].get(k)) for x in a})
            vb = sorted({str(x["env"].get(k)) for x in b})
            if va != vb:
                print(f"  env {k}: {','.join(va)} -> {','.join(vb)}", file=out)
        la = [x for x in a if x.get("trace")]
        lb = [x for x in b if x.get("trace")]
        if la and lb:
            names = sorted(set(la[0]["layers"]) | set(lb[0]["layers"]))
            changed = 0
            for n in names:
                ma = statistics.median(float(x["layers"].get(n, 0)) for x in la)
                mb = statistics.median(float(x["layers"].get(n, 0)) for x in lb)
                if ma != mb:
                    changed += 1
                    ratio = f"{mb / ma:.3f}x" if ma else "new"
                    print(f"  layer {n}: {fmt(ma)} -> {fmt(mb)} ({ratio})", file=out)
            if not changed:
                print("  layers: no counter changed", file=out)
        for n in a[0]["metrics"]:
            qa = quartiles([x["metrics"][n] for x in a])
            qb = quartiles([x["metrics"][n] for x in b if n in x["metrics"]])
            ratio = qb[1] / qa[1] if qa[1] else float("nan")
            print(f"  {n}: median {fmt(qa[1])} [{fmt(qa[0])}, {fmt(qa[2])}] -> "
                  f"{fmt(qb[1])} [{fmt(qb[0])}, {fmt(qb[2])}]  {ratio:.3f}x", file=out)
        for n in a[0].get("named", {}):
            va = [x["named"][n] for x in a]
            vb = [x["named"][n] for x in b if n in x.get("named", {})]
            if vb:
                print(f"  named {n}: {fmt(statistics.median(va))} -> "
                      f"{fmt(statistics.median(vb))}", file=out)


def main(argv):
    if len(argv) != 3:
        print(__doc__, file=sys.stderr)
        return 2
    diff(load(argv[1]), load(argv[2]))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
