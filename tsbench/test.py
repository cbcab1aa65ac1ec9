#!/usr/bin/env python3
"""The benchmark's own tests. Run from the repository root:

    python3 tsbench/test.py

Checks the runner's statistics here, then builds and runs the harness
self-test (input determinism and arms, checksums, due-time accounting,
failure counting) in one JVM.
"""
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import run  # noqa: E402


def test_percentile():
    xs = list(range(1, 1001))
    assert run.percentile(xs, 99) == 990  # ten samples lie beyond it
    assert run.percentile(xs, 50) == 500
    for n, q in ((999, 99), (100, 95), (9, 0)):
        try:
            run.percentile(list(range(n)), q)
        except ValueError:
            continue
        raise AssertionError("p%g of %d samples was not refused" % (q, n))
    assert run.median([3, 1, 2]) == 2 and run.median([4, 1, 3, 2]) == 2.5
    print("ok - the percentile helper refuses a tail with fewer than ten samples beyond it")


def test_failed_pass_excluded():
    rec = {"workload": "surface", "setup_s": 1.0, "input_rows": 100, "passes": [
        {"ok": True, "wall_s": 2.0, "cpu_s": 1.0, "op_ms": {"a": 2000.0}},
        {"ok": False, "wall_s": 0.1, "cpu_s": 0.1, "op_ms": {"a": 100.0}}]}
    e2e, lat, n = run.end_to_end(rec)
    assert n == 1 and e2e["pass_s"] == 2.0 and lat == [2000.0]
    print("ok - a failed pass enters neither pass_s nor the latencies")


def main():
    test_percentile()
    test_failed_pass_excluded()
    root = os.getcwd()
    jar, _, archive = build.build(root)
    work = os.path.join(root, build.OUT, "work", "selftest-%d" % os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    try:
        r = subprocess.run(build.java_cmd(root, jar, work, archive) + [
            "--mode", "selftest", "--workload", "selftest", "--work", work,
            "--out", os.path.join(work, "out.json")],
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, env=build.jvm_env())
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("\n".join(l for l in r.stdout.splitlines() if l.startswith(("ok - ", "selftest", "Exception"))))
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-3000:])
        raise SystemExit("selftest failed")


if __name__ == "__main__":
    main()
