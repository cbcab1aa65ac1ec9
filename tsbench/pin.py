#!/usr/bin/env python3
"""Rewrites tsbench/pinned.json: the verification checksums every run
compares against. Run from the repository root, only when an output is
meant to change (say why in the change that re-pins):

    python3 tsbench/pin.py [--dashboard-seeds 1-4]

Surface's input is fixed, so it has one set of values; the dashboard's
input depends on the seed, so it is pinned per seed.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402


def pin(built, workload, extra):
    jar, data, archive = built
    work = os.path.join(build.OUT, "work", "pin-%s-%d" % (workload, os.getpid()))
    out = os.path.join(work, "out.json")
    try:
        r = subprocess.run(build.java_cmd(os.getcwd(), jar, work, archive) + [
            "--mode", "pin", "--workload", workload, "--work", work, "--data", data, "--out", out] + extra,
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, env=build.jvm_env())
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-3000:])
            raise SystemExit("pinning %s failed" % workload)
        with open(out) as fh:
            return json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--dashboard-seeds", default="1-4")
    a = ap.parse_args()
    built = build.build(os.getcwd())
    pinned = {"surface": pin(built, "surface", []),
              "dashboard": pin(built, "dashboard", ["--seeds", a.dashboard_seeds])}
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pinned.json")
    with open(path, "w") as fh:
        json.dump(pinned, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print("wrote", path)


if __name__ == "__main__":
    main()
