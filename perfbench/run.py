"""Runs one benchmark workload and prints its metrics.

    python3 perfbench/run.py --workload pipeline_daily --seed 1 --seconds 10 --trace 0

Workloads: pipeline_backfill, pipeline_daily, analytic_suite (see README.md).
The program is built from source first (build.py). With --trace 0 the last
line of stdout is one JSON object with the end-to-end metrics; with
--trace 1 it carries the per-layer metrics. Either way the full artifact
(samples, checks, counters, spans, environment stamp) is written to
.bench_build/artifacts/.
"""
import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402

WORKLOADS = ("pipeline_backfill", "pipeline_daily", "analytic_suite")
DEADLINE_S = 170

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def tail(xs):
    """The highest of p50/p75/p90/p95/p99 with at least 10 samples beyond
    it, as (value, percentile, samples beyond); p50 when there are fewer."""
    n = len(xs)
    if n < 2:
        return (xs[0] if xs else float("nan")), 50, 0
    best = (50, n - math.ceil(n * 0.5))
    for p in (75, 90, 95, 99):
        beyond = n - math.ceil(n * p / 100)
        if beyond >= 10:
            best = (p, beyond)
    p, beyond = best
    # interpolated like the median, so the p50 tail is the median
    return statistics.quantiles(xs, n=100, method="inclusive")[p - 1], p, beyond


def unit(name):
    """The unit of a named figure, from its suffix."""
    for suffix, u in (("_per_s", "1/s"), ("_s", "s"), ("_mb", "MB"), ("_pct", "%")):
        if name.endswith(suffix):
            return u
    return "ratio" if name.endswith("_frac") else "count"


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def java_cmd(args, work, out, data, trace):
    tmp = build.BUILD / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    opens = [a for p in JDK17_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = ["java", "-Xms2g", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", *opens,
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={build.BUILD / 'warehouse'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-Dlog4j2.level=ERROR",
           "-cp", build.classpath(), "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(trace),
           "--work", str(work), "--out", str(out)]
    if data:
        cmd += ["--data", str(data)]
    return cmd


def run_jvm(cmd, budget):
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores()),
               SPARK_LOCAL_DIRS=str(build.BUILD / "tmp"))
    log = (build.BUILD / "jvm.log").open("w")
    proc = subprocess.Popen(cmd, cwd=build.ROOT, env=env, stdout=log, stderr=subprocess.STDOUT)
    try:
        code = proc.wait(timeout=budget)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        code = "timeout"
    finally:
        log.close()
    return code


def suite_checks(raw):
    """Compare each query's first-pass result with its DuckDB oracle."""
    import suitedata
    results = Path(raw["info"]["results_dir"])
    failures, near = [], {}
    for name, sql in sorted(raw["info"]["oracle_sql"].items()):
        ok, why, n = suitedata.matches_oracle(results / name, sql, raw["data_dir"])
        if not ok:
            failures.append(f"oracle {name}: {why}")
        elif n:
            near[name] = f"{n} float cell(s) one unit off in the 6th decimal, first {why}"
    raw["info"]["oracle_near"] = near
    return len(raw["info"]["oracle_sql"]), failures


def reduce(raw, workload):
    """End-to-end metrics plus the named per-workload figures."""
    s = raw["samples"]
    setup = median(raw["setup_s"]) + raw.get("data_gen_s", 0.0)
    named = {"setup_s": setup, "peak_rss_mb": raw["peak_rss_mb"]}
    per_read = {q: median(v) for q, v in raw["query_samples"].items()}
    read = geomean(list(per_read.values()))
    if workload == "pipeline_backfill":
        work = median(s["backfill_s"])
        named["backfill_rows_per_s"] = median(s["backfill_rows_per_s"])
    elif workload == "pipeline_daily":
        work = median(s["freshness_s"])
        ft, fp, fn = tail(s["freshness_s"])
        named.update(freshness_p50_s=work, freshness_tail_s=ft,
                     freshness_tail_pct=fp, freshness_tail_beyond=fn)
    else:
        work = sum(per_read.values())
        named.update(suite_wall_s=work, suite_geomean_s=read)
    if workload != "analytic_suite":
        reads = [x for v in raw["query_samples"].values() for x in v]
        vt, vp, vn = tail(reads)
        named.update(view_query_p50_s=median(reads), view_query_tail_s=vt,
                     view_query_tail_pct=vp, view_query_tail_beyond=vn)
    named["failed_frac"] = raw["failed"] / max(1, raw["attempted"])
    e2e = {
        "setup_s": (setup, "s"),
        "work_s": (work, "s"),
        "read_s": (read, "s"),
        "live_heap_mb": (raw["info"]["live_heap_mb"], "MB"),
    }
    return e2e, named


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.monotonic()
    load_start = os.getloadavg()[0]
    try:
        build.build()
    except (FileNotFoundError, subprocess.CalledProcessError) as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = build.BUILD / "work" / tag
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    out = work / "raw.json"
    data, gen_s = None, 0.0
    if args.workload == "analytic_suite":
        import suitedata
        data = work / "tables"
        gen_s = suitedata.timed_generate(data, args.seed, repeats=3)

    code = run_jvm(java_cmd(args, work / "jvm", out, data, args.trace),
                   DEADLINE_S - (time.monotonic() - started))
    if code != 0 or not out.exists():
        sys.stderr.write((build.BUILD / "jvm.log").read_text()[-4000:])
        print(f"benchmark JVM failed: {code}", file=sys.stderr)
        return 1
    raw = json.loads(out.read_text())
    raw["data_gen_s"] = gen_s
    raw["data_dir"] = str(data) if data else None
    raw["peak_rss_mb"] = raw["info"]["vm_hwm_kb"] / 1024.0
    if args.workload == "analytic_suite":
        n, fails = suite_checks(raw)
        raw["attempted"] += n
        raw["failed"] += len(fails)
        raw["failures"] += fails

    e2e, named = reduce(raw, args.workload)
    raw["env"].update(loadavg_1m_start=load_start, loadavg_1m_end=os.getloadavg()[0],
                      rev=build.source_digest())
    artifact = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                "env": raw["env"], "metrics": {k: v for k, (v, _) in e2e.items()},
                "named": named, "layers": raw["layers"], "raw": raw}
    art_dir = build.BUILD / "artifacts"
    art_dir.mkdir(parents=True, exist_ok=True)
    (art_dir / f"{tag}.json").write_text(json.dumps(artifact, indent=1))
    if not raw["failures"]:  # kept on failure, to diagnose
        shutil.rmtree(work, ignore_errors=True)

    for f in raw["failures"][:20]:
        print(f"FAILED {f}")
    for q, note in raw["info"].get("oracle_near", {}).items():
        print(f"NOTE oracle {q}: {note}")
    env = raw["env"]
    print(f"# env conf_hash={env['conf_hash']} cpus={env['cpus']} "
          f"shuffle_partitions={env['shuffle_partitions']} spark={env['spark_version']} "
          f"jdk={env['jdk']} rev={env['rev']} loadavg={load_start:.2f}->{env['loadavg_1m_end']:.2f} "
          f"canChangeCachedPlanOutputPartitioning="
          f"{env['spark.sql.optimizer.canChangeCachedPlanOutputPartitioning']}")
    for k, v in named.items():
        print(f"{args.workload} {k} {v:.6g} {unit(k)}")
    for k, (v, u) in e2e.items():
        print(f"{args.workload} end_to_end {k} {v:.6g} {u}")
    if args.trace:
        for k, v in raw["layers"].items():
            print(f"{args.workload} layer {k} {v:.6g}")
        for k, v in sorted(raw["span_self_s"].items()):
            print(f"{args.workload} span_self_s {k} {v:.6g}")
        metrics = {m["name"]: {"value": raw["layers"].get(m["name"], 0), "unit": m["unit"]}
                   for m in json.loads((build.ROOT / "BENCHMARK.json").read_text())["per_layer"]}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    print(json.dumps({"correct": raw["failed"] == 0, "attempted": raw["attempted"],
                      "failed": raw["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
