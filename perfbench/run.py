#!/usr/bin/env python3
"""graft benchmark: one command that builds the engine from the checkout,
runs one workload, checks its outputs and prints every metric.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1> [--smoke]

Run it from the root of a graft checkout. Workloads (see README.md):
pit_megaconv, query_library. `--trace 0` prints the
end-to-end metrics of BENCHMARK.json, `--trace 1` the per-layer ones. The
last line of standard output is one JSON object
`{"correct", "attempted", "failed", "metrics"}`; the line before it carries
the host's contention readings and versions for the run. The run's report,
JVM log and (traced) span file are kept in
`.bench_build/last/<workload>-<seed>-trace<0|1>/`.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402

WORKLOADS = ("pit_megaconv", "query_library")
# layers each workload exercises; a per-layer metric of another layer reads 0
LAYERS = {
    "pit_megaconv": ("jvm.", "ops.", "features.", "plans.", "spark.", "trace.", "tables.", "backfill."),
    "query_library": ("jvm.", "spark.", "trace.", "q.", "lib."),
}
QUERY_SF = 0.01  # star-schema scale of query_library (lineitem 6M * sf rows)
SMOKE_SF = 0.0005
GEN_REPS = 3
JVM_TIMEOUT_S = 170
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def spec():
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def gen_tables(work, seed, sf):
    """Generate the query tables GEN_REPS times; return (dir, median seconds)."""
    import gen_tables as g
    times, out = [], None
    for k in range(GEN_REPS):
        out = os.path.join(work, f"tables-{k}")
        t0 = time.perf_counter()
        g.write(out, seed, sf)
        times.append(time.perf_counter() - t0)
    return out, statistics.median(times)


def run_jvm(classes, work, args, tables):
    out = os.path.join(work, "report.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx4g", "-Xss8m",
           *[x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
           f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", f"{classes}:{os.path.join(build.spark_jars(), '*')}",
           "graftbench.Main", "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--smoke", "1" if args.smoke else "0", "--work", work, "--tables", tables or "",
           "--out", out]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0 or not os.path.exists(out):
        with open(log) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"perfbench: harness exited with {code}")
    with open(out) as f:
        return json.load(f)


def keep(work, dest):
    """Copy the run's report, JVM log and span file out of the work dir."""
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    for name in ("report.json", "report.json.spans.json", "jvm.log"):
        if os.path.exists(os.path.join(work, name)):
            shutil.copy(os.path.join(work, name), dest)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, for the benchmark's own tests")
    args = ap.parse_args()

    bench = spec()
    classes = build.classes()
    work = os.path.join(build.BUILD_DIR, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        tables, gen_s = None, 0.0
        if args.workload == "query_library":
            tables, gen_s = gen_tables(work, args.seed, SMOKE_SF if args.smoke else QUERY_SF)
        report = run_jvm(classes, work, args, tables)
        checks = [dict(c) for c in report["checks"]]
        attempted, failed = report["attempted"], report["failed"]
        if args.workload == "query_library":
            import oracle_check
            for name, ok, detail in oracle_check.check(tables, os.path.join(work, "out")):
                checks.append({"name": name, "ok": ok, "detail": detail})
                attempted += 1
                failed += 0 if ok else 1
        m = report["metrics"]
        m["setup_s"]["value"] += gen_s
        m["ok_frac"] = {"value": 1.0 - failed / max(1, attempted), "unit": "ratio"}
    finally:
        keep(work, os.path.join(build.BUILD_DIR, "last", f"{args.workload}-{args.seed}-trace{args.trace}"))
        shutil.rmtree(work, ignore_errors=True)

    wanted = bench["per_layer"] if args.trace else bench["end_to_end"]
    metrics, missing = {}, []
    for w in wanted:
        name = w["name"]
        if name in m and m[name]["value"] is not None:
            metrics[name] = {"value": m[name]["value"], "unit": w["unit"]}
        elif args.trace and not name.startswith(LAYERS[args.workload]):
            metrics[name] = {"value": 0, "unit": w["unit"]}
        else:
            missing.append(name)
    for c in checks:
        if not c["ok"]:
            sys.stderr.write(f"check failed: {c['name']}: {c['detail']}\n")
    for e in report["errors"]:
        sys.stderr.write(f"error: {e}\n")
    if missing:
        raise SystemExit(f"perfbench: metrics not measured: {', '.join(missing)}")
    extra = {k: v for k, v in m.items() if k not in metrics}
    print(json.dumps({"host": report["host"], "env": report["env"], "workload": args.workload,
                      "seed": args.seed, "checks_failed": [c["name"] for c in checks if not c["ok"]],
                      "other_metrics": extra}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
