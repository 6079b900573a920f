"""Self-test of the benchmark's own code. The JVM part (graftbench.SelfTest)
covers the percentile rule, self-time subtraction, job-group attribution of
batch and stream jobs, and failure counting on the sf0.001 tables; this part
covers the DuckDB output comparison and the per-layer units.

Run: python3 perfbench/run.py --selftest
"""
import os
import shutil

import oracle


def python_checks():
    results = []

    def check(name, ok):
        results.append(ok)
        print(("ok   " if ok else "FAIL ") + name)

    cols = ["b", "a"]
    rows = [(1, "x"), (2, float("nan"))]
    check("oracle compare matches columns by name, NaN equal to NaN",
          oracle.compare(cols, rows, ["a", "b"], [("x", 1), (float("nan"), 2)]) is None)
    check("oracle compare reports a value mismatch with its row and column",
          "row 1 column a" in (oracle.compare(cols, rows, ["a", "b"], [("x", 1), ("y", 3)]) or ""))
    check("oracle compare reports a row count mismatch",
          "row count" in (oracle.compare(cols, rows, cols, rows[:1]) or ""))
    check("oracle compare reports a column mismatch",
          "column mismatch" in (oracle.compare(["a"], [(1,)], ["c"], [(1,)]) or ""))
    return all(results)


def main(cp, root, java):
    ok = python_checks()
    data = os.environ.get("SPARK_GRAFT_SELFTEST_DIR") or os.path.join(
        os.path.expanduser("~"), "testdata", "sf0.001")
    work = os.path.join(root, ".bench_work", f"selftest-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        java(cp, "graftbench.SelfTest", [data, work], os.path.join(work, "tmp"),
             os.path.join(work, "selftest.log"))
        jvm_ok = True
    except SystemExit as e:
        print(e)
        jvm_ok = False
    log = os.path.join(work, "selftest.log")
    if os.path.exists(log):
        for line in open(log):
            if line.startswith(("ok ", "FAIL", "SELFTEST", "  error")):
                print(line.rstrip())
    shutil.rmtree(work, ignore_errors=True)
    return 0 if ok and jvm_ok else 1
