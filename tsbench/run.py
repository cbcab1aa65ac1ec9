#!/usr/bin/env python3
"""Runs one benchmark workload and prints its metrics.

    python3 tsbench/run.py --workload dashboard|surface|stream --seed N \\
        --seconds S --trace 0|1

Run from the repository root. The first run builds (see build.py). Each
run launches a fresh JVM with its own Spark session and scratch
directories under .bench_build/tsbench/, measures for about S seconds,
checks every output, and prints one JSON object as its last line:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
See NOTES.md for what each workload and metric means.
"""
import argparse
import json
import math
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("dashboard", "surface", "stream")
JVM_TIMEOUT_S = 170


def median(xs):
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("median of no samples")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def percentile(xs, q):
    """The q-th percentile (nearest rank), refused unless at least ten
    samples lie beyond it: a tail read from fewer is one outlier."""
    n = len(xs)
    k = max(0, math.ceil(q / 100.0 * n) - 1)
    if n - 1 - k < 10:
        raise ValueError("p%g needs ten samples beyond it; have %d samples" % (q, n))
    return sorted(xs)[k]


def expect_file(path, workload, seed):
    """Pinned values for this run, as `name value` lines, or None."""
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "pinned.json")) as fh:
        pinned = json.load(fh)
    entry = pinned.get(workload, {})
    if workload == "dashboard":
        entry = entry.get(str(seed), {})
    if not entry:
        return None
    with open(path, "w") as fh:
        fh.writelines("%s %s\n" % kv for kv in sorted(entry.items()))
    return path


def launch(built, work, a):
    """Runs the workload in one JVM and returns its raw record."""
    jar, data, archive = built
    out = os.path.join(work, "record.json")
    cmd = build.java_cmd(os.getcwd(), jar, work, archive) + [
        "--mode", "run", "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", repr(a.seconds), "--trace", str(a.trace), "--work", os.path.join(work, "jvm"),
        "--out", out, "--spans", os.path.join(build.OUT, "traces", "%s-seed%d.json" % (a.workload, a.seed))]
    if a.workload == "surface":
        cmd += ["--data", data]
    exp = expect_file(os.path.join(work, "expect.txt"), a.workload, a.seed)
    if exp:
        cmd += ["--expect", exp]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT, env=build.jvm_env())
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-3000:])
        raise SystemExit("tsbench: %s run failed (%s)" % (a.workload, rc))
    with open(out) as fh:
        return json.load(fh)


def end_to_end(r):
    """End-to-end metrics from a run's record, the pass count and the
    latency samples."""
    ok = [p for p in r["passes"] if p["ok"]]
    # a traced run reports its end-to-end figures from its untraced passes
    ok = [p for p in ok if not p.get("traced")] or ok
    if not ok:
        raise SystemExit("tsbench: no pass completed without a failure")
    pass_s = median([p["wall_s"] for p in ok])
    if r["workload"] == "stream":
        lat = r["latency_ms"]
        cpu = r["cpu_s"]
        rows_per_s = r["phase1_rows"] / r["phase1_wall_s"]
    else:
        lat = [ms for p in ok for ms in p["op_ms"].values()]
        cpu = median([p["cpu_s"] for p in ok])
        rows_per_s = r["input_rows"] / pass_s
    return {"setup_s": r["setup_s"], "pass_s": pass_s, "cpu_s": cpu,
            "rows_per_s": rows_per_s, "latency_p50_ms": median(lat)}, lat, len(ok)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    built = build.build(root)
    work = os.path.join(root, build.OUT, "work", "run-%d" % os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        r = launch(built, work, a)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted, failed = r["attempted"], r["failed"]
    for f in r.get("failures", []):
        print("FAILED %s" % f)
    print("set-up phases: %s" % json.dumps(r.get("setup_phases", r.get("phases", {}))))
    if r["workload"] == "stream":
        print("drain s: %s" % [round(p["wall_s"], 3) for p in r["passes"]])
        lat, files = r["latency_ms"], r["paced_files"]
        if files and len(lat) % files == 0:
            per = len(lat) // files
            print("paced file p50 ms: %s" % [round(median(lat[i:i + per])) for i in range(0, len(lat), per)])
    else:
        print("verify ms: %s" % json.dumps({k: round(v) for k, v in r["verify_ms"].items()}))
        print("op ms: %s" % json.dumps({k: [round(p["op_ms"][k]) for p in r["passes"]]
                                        for k in r["passes"][0]["op_ms"]}))
    print("arms %s, fingerprint %s, pinned %s, seed applies %s" % (
        json.dumps(r.get("arms", {})), r.get("fingerprint", "-"), r.get("pinned", "-"), r["seed_applies"]))
    e2e, lat, n_pass = end_to_end(r)
    print("passes %d, latency samples %d, attempted %d, failed %d, error_rate %.6f" % (
        n_pass, len(lat), attempted, failed, failed / attempted))
    try:
        print("latency_p99_ms %.3f (from %d samples)" % (percentile(lat, 99), len(lat)))
    except ValueError as e:
        print("latency tail not reported: %s" % e)
    for k, v in e2e.items():
        print("%s %.6g" % (k, v))

    if a.trace:
        layers = r.get("layers", {})
        for k in sorted(layers):
            print("layer %s %.6g" % (k, layers[k]))
        metrics = {m["name"]: {"value": layers.get(m["name"], 0.0), "unit": m["unit"]} for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]} for m in spec["end_to_end"]}
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
