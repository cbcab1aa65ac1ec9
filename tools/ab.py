#!/usr/bin/env python3
"""Same-session paired A/B of the benchmark across two checkouts.

    python3 tools/ab.py A_DIR B_DIR [--workload stream] [--seeds 1-10]

It runs every workload that A's BENCHMARK.json lists, one after the
other; `--workload` narrows the run to one. For every seed it runs
`tsbench/run.py` once in each checkout, for the `run_seconds` that A's
BENCHMARK.json sets, back to back, and alternates which side goes first
(odd seeds A first, even seeds B first), so drift in the machine's load
falls on both sides alike. `run.py` builds each checkout's benchmark on
its first run, before its JVM starts, so the build stays out of every
measurement.

It prints one line per run, then one table per workload: for each
end-to-end metric of BENCHMARK.json (read from A), each side's median
and quartiles, the ratio of the medians B/A, in how many pairs B is
better (ties count for neither), the gap between the medians next to the
distance between A's quartiles, and a verdict:

- `claim`: B is better in at least 9 of every 10 pairs, and its median
  is better than A's by more than IQR(A);
- `worse>bound`: B's median is worse than A's by more than the metric's
  `bound` in BENCHMARK.json (a fraction of A's median);
- `unresolved`: B's median is worse than A's, within the bound, but the
  distance between either side's quartiles exceeds `bound` times that
  side's median, so the runs spread too widely to call it unchanged;
- `—` otherwise.

The last line of each table says whether every run of that workload was
`correct` with 0 failed. Exits non-zero if any run failed to finish, was
not `correct`, or had failures.
"""
import argparse
import json
import os
import subprocess
import sys


def median(xs):
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def quartiles(xs):
    """(q1, q3) as the medians of the lower and upper halves."""
    s = sorted(xs)
    h = len(s) // 2
    return median(s[:h] or s), median(s[-h:] or s)


def verdict(m, ma, mb, iqr_a, iqr_b, wins, n):
    """`claim`, `worse>bound`, `unresolved` or `—` for metric `m`, from
    the medians of A and B, both sides' quartile distances and B's wins
    out of `n` pairs."""
    gain = ma - mb if m["better"] == "lower" else mb - ma
    if wins >= 0.9 * n and gain > iqr_a:
        return "claim"
    if ma and -gain / abs(ma) > m["bound"]:
        return "worse>bound"
    if gain < 0 and (iqr_a > m["bound"] * abs(ma) or iqr_b > m["bound"] * abs(mb)):
        return "unresolved"
    return "\u2014"


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def run(root, workload, seed, seconds):
    """The JSON record `run.py` prints last, or None if the run failed."""
    p = subprocess.run([sys.executable, "tsbench/run.py", "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds)], cwd=root, capture_output=True, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-2000:] + p.stderr[-2000:])
        return None
    return json.loads(lines[-1])


def series(sides, workload, seed_list, seconds, metrics):
    """Runs the paired series of one workload and prints its table; True
    if every run finished `correct` with 0 failed."""
    every = []
    pairs = []
    ok = True
    for seed in seed_list:
        order = ("A", "B") if seed % 2 else ("B", "A")
        got = {}
        for side in order:
            r = run(sides[side], workload, seed, seconds)
            if r is None:
                print("seed %d %s: run failed" % (seed, side))
                ok = False
                continue
            got[side] = r
            every.append(r)
            print("seed %d %s: correct %s failed %d %s" % (seed, side, r["correct"], r["failed"], " ".join(
                "%s=%.4g" % (m["name"], r["metrics"][m["name"]]["value"]) for m in metrics)), flush=True)
        if len(got) == 2:
            pairs.append(got)

    print("\n%d pairs, %s, order alternated per seed" % (len(pairs), workload))
    print("%-16s %28s %28s %7s %7s %10s %10s  %s" % (
        "metric", "A median [q1, q3]", "B median [q1, q3]", "B/A", "B wins", "|gap|", "IQR(A)", "verdict"))
    for m in metrics if pairs else []:
        name, lower = m["name"], m["better"] == "lower"
        a = [p["A"]["metrics"][name]["value"] for p in pairs]
        b = [p["B"]["metrics"][name]["value"] for p in pairs]
        wins = sum(1 for x, y in zip(a, b) if (y < x if lower else y > x))
        (a1, a3), (b1, b3) = quartiles(a), quartiles(b)
        ma, mb = median(a), median(b)
        print("%-16s %28s %28s %7.3f %4d/%-2d %10.4g %10.4g  %s" % (
            name, "%.4g [%.4g, %.4g]" % (ma, a1, a3), "%.4g [%.4g, %.4g]" % (mb, b1, b3),
            mb / ma if ma else float("nan"), wins, len(pairs), abs(mb - ma), a3 - a1,
            verdict(m, ma, mb, a3 - a1, b3 - b1, wins, len(pairs))))
    clean = ok and all(r["correct"] and r["failed"] == 0 for r in every)
    print("all %d %s runs correct with 0 failed: %s\n" % (len(every), workload, clean), flush=True)
    return clean


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("a")
    ap.add_argument("b")
    ap.add_argument("--workload", help="run only this workload (default: every one BENCHMARK.json lists)")
    ap.add_argument("--seeds", default="1-10")
    args = ap.parse_args()
    sides = {"A": os.path.abspath(args.a), "B": os.path.abspath(args.b)}
    with open(os.path.join(sides["A"], "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    workloads = [args.workload] if args.workload else [w["name"] for w in bench["workloads"]]
    clean = [series(sides, w, seeds(args.seeds), bench["run_seconds"], bench["end_to_end"])
             for w in workloads]
    sys.exit(0 if all(clean) else 1)


if __name__ == "__main__":
    main()
