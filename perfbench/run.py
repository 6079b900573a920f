#!/usr/bin/env python3
"""graft's benchmark. Run from the repository root:

    python3 perfbench/run.py --workload <query_mix|ivm_history>
        --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

It builds the program from source (perfbench/build.py), runs one workload in
one JVM at local[N] with N = the CPUs this process may use, checks the
outputs (DuckDB oracle for query results, bag equality for maintained views),
and prints every metric by name with its unit and sample count. The last
line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}.

With --trace 0 the metrics are the end-to-end ones. With --trace 1 the run
continues after its untraced round with a traced round in the same process;
the metrics are the per-layer ones, the tracing overhead (traced minus
untraced, per end-to-end metric) is printed, and the spans and per-operation
breakdown are written to .bench_work/traces/.

Input data: the sf0.1 testdata tables, read from $SPARK_GRAFT_SF_DIR or
~/testdata/sf0.1. Every run works in its own empty directory under
.bench_work/ (staging slots, checkpoints, lake tables, catalog warehouse,
spark-warehouse), removed when the run ends.
"""
import argparse
import json
import math
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("query_mix", "ivm_history")
JVM_TIMEOUT_S = 160
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def data_dir():
    d = os.environ.get("SPARK_GRAFT_SF_DIR") or os.path.join(
        os.path.expanduser("~"), "testdata", "sf0.1")
    if not os.path.isfile(os.path.join(d, "lineitem.parquet")):
        raise SystemExit(f"run: no testdata tables under {d} (set SPARK_GRAFT_SF_DIR)")
    return d


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def java(cp, main, args, tmpdir, log):
    # no hsperfdata file: the JVM writes nothing outside the run directory
    cmd = ["java", "-XX:-UsePerfData", "-Xmx4g", "-Xss4m"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={tmpdir}", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, main] + args
    with open(log, "w") as f:
        try:
            r = subprocess.run(cmd, stdout=f, stderr=subprocess.STDOUT,
                               timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise SystemExit(f"run: JVM exceeded {JVM_TIMEOUT_S} s (log: {log})")
    if r.returncode != 0:
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        raise SystemExit(f"run: JVM exited with code {r.returncode}")


def run_once(cp, a, root, data):
    trace = a.trace
    work = os.path.join(root, ".bench_work", f"{a.workload}-{a.seed}-{trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    out = os.path.join(work, "result.json")
    try:
        java(cp, "graftbench.Main",
             ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(trace), "--cpus", str(cpus()), "--data", data,
              "--root", work, "--out", out],
             tmp, os.path.join(work, "jvm.log"))
        with open(os.path.join(work, "jvm.log")) as f:
            # the JVM's phase log: uptime at set-up, rounds, checks and stop
            sys.stdout.write("".join(l for l in f if l.startswith("[graftbench]")))
        with open(out) as f:
            res = json.load(f)
        res["failures"] += oracle.check(res.get("oracle_checks", []), data)
        if trace:
            traces = os.path.join(root, ".bench_work", "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(out + ".trace.json",
                        os.path.join(traces, f"{a.workload}-{a.seed}.json"))
        return res
    finally:
        shutil.rmtree(work, ignore_errors=True)


def show(res, metrics, details, label):
    print(f"== {label}: workload={res['workload']} seed={res['seed']} cpus={res['cpus']} "
          f"seconds={res['seconds']}")
    for title, ms in (("gated", metrics), ("workload figures", details)):
        print(f"  {title}:")
        for name, m in ms.items():
            tail = m["tail"] or "none"
            print(f"    {name:22s} {m['value']:12.6f} {m['unit']:4s} {m['stat']:6s} "
                  f"n={m['n']:<5d} highest percentile with >=10 samples beyond: {tail}")
    failed = len(res["failures"])
    share = failed / res["attempted"] if res["attempted"] else 0.0
    print(f"  failed ops: {failed}/{res['attempted']} (share {share:.4f})")
    for f in res["failures"]:
        print(f"    FAILED {f['op']}: {f['reason']}")
    for side in ("start", "end"):
        b = res["box"][side]
        print(f"  box {side}: loadavg {b['load1']:.2f} {b['load5']:.2f} {b['load15']:.2f}, "
              f"cpu probe {b['cpu_probe_ms']:.1f} ms")


def per_layer(root, measured):
    """Every per-layer metric BENCHMARK.json lists, with its unit; a layer
    the workload does not reach reads 0."""
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        listed = json.load(f)["per_layer"]
    return {m["name"]: {"value": measured.get(m["name"], 0.0), "unit": m["unit"]}
            for m in listed}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    root = os.getcwd()
    cp = build.build(root)
    if a.selftest:
        import selftest
        sys.exit(selftest.main(cp, root, java))
    if not a.workload:
        ap.error("--workload is required")
    data = data_dir()
    res = run_once(cp, a, root, data)
    show(res, res["metrics"], res["details"], "untraced round")
    if a.trace:
        traced = res["traced_metrics"]
        show(res, traced, res["traced_details"], "traced round")
        print("  tracing overhead (traced - untraced):")
        for name, m in traced.items():
            if name in res["metrics"] and name != "setup_s":
                d = m["value"] - res["metrics"][name]["value"]
                print(f"    {name:24s} {d:+12.6f} {m['unit']}")
        metrics = per_layer(root, res["layers"])
    else:
        metrics = {k: {"value": m["value"], "unit": m["unit"]}
                   for k, m in res["metrics"].items()}
    bad = [k for k, m in metrics.items() if not math.isfinite(m["value"])]
    if bad:
        raise SystemExit(f"run: non-finite metrics {bad}")
    failed = len({f["op"] for f in res["failures"]})
    print(json.dumps({"correct": failed == 0, "attempted": res["attempted"],
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
