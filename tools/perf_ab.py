#!/usr/bin/env python3
"""A/B the repository benchmark between two versions of the code.

Usage (from the repository root):
  python3 tools/perf_ab.py --workload migrate [--workload catalog_headline ...] \\
      --seed 29 --pairs 10 [--base HEAD] [--change WORKTREE] [--seconds 20] \\
      [--dir DIR] [--out ab.json]

Each side is a git revision, or WORKTREE for the working tree as it
stands (tracked and untracked files, ignored ones left out). Each side
is exported into its own fresh directory under --dir (git archive for a
revision), so each builds and runs only its own sources. The script
then runs `perfbench/run.py` in N pairs, alternating which side runs
first, and prints, for every end-to-end metric of BENCHMARK.json, each
side's median and quartiles and the pairs the change won (ties count
for neither side). A gain is CLAIMED only when the change wins at least
nine tenths of the pairs and the medians differ by more than the
distance between the base's quartiles. Each --workload gets its own
pairs and its own table, so one invocation checks a claimed gain and
the other workloads' "no regression" side together. When a side's
first run of a workload fails, the script prints that run's output
tail and stops: the remaining pairs would fail the same way. --out is
rewritten after every pair, so a killed or timed-out A/B keeps the
pairs it finished.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def export(side, dest):
    """Materialize one side's files in `dest`."""
    os.makedirs(dest)
    if side == "WORKTREE":
        names = subprocess.run(
            ["git", "ls-files", "-z", "--cached", "--others", "--exclude-standard"],
            cwd=ROOT, check=True, capture_output=True).stdout.decode().split("\0")
        for n in filter(None, names):
            src = os.path.join(ROOT, n)
            if os.path.isfile(src):
                os.makedirs(os.path.dirname(os.path.join(dest, n)), exist_ok=True)
                shutil.copy2(src, os.path.join(dest, n))
    else:
        archive = subprocess.run(["git", "archive", side], cwd=ROOT, check=True,
                                 capture_output=True).stdout
        subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)


def run_once(checkout, workload, a):
    """One benchmark run: (end-to-end metrics, None), or (None, output tail)
    when the run failed or was not correct."""
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(a.seed), "--seconds", str(a.seconds),
                        "--trace", "0"], cwd=checkout, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    try:
        res = json.loads(lines[-1])
    except (IndexError, ValueError):
        res = {"correct": False}
    if p.returncode != 0 or not res.get("correct"):
        return None, "run failed in %s (exit %d):\n%s\n" % (
            checkout, p.returncode, (p.stdout + p.stderr)[-2000:])
    return {k: v["value"] for k, v in res["metrics"].items()}, None


def quartiles(xs):
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return med, q1, q3


def run_pairs(workload, sides, a, pairs, saved):
    """N alternating pairs of one workload, appended to `pairs` with
    `saved()` called after each; False when a side's first run failed."""
    for i in range(a.pairs):
        order = ["base", "change"] if i % 2 == 0 else ["change", "base"]
        pair = {}
        for s in order:
            pair[s], tail = run_once(sides[s], workload, a)
            if tail:
                sys.stderr.write(tail)
                if not pairs:
                    sys.stderr.write("%s: the %s side's first run failed; stopping\n"
                                     % (workload, s))
                    return False
        pairs.append(pair)
        saved()
        print("%s pair %d (%s first): %s" % (workload, i + 1, order[0], json.dumps(pair)),
              flush=True)
    return True


def save(a, results):
    """Write every finished pair to --out (replaced whole, never half written)."""
    if a.out:
        with open(a.out + ".tmp", "w") as f:
            json.dump({"seed": a.seed, "seconds": a.seconds, "base": a.base,
                       "change": a.change, "workloads": results}, f, indent=1)
        os.replace(a.out + ".tmp", a.out)


def report(workload, pairs, bench, a):
    """Print one workload's table; False when too few pairs ran on both sides."""
    ok = [p for p in pairs if p["base"] and p["change"]]
    print("\n%s seed=%d: %d of %d pairs ran correctly on both sides (base=%s change=%s)"
          % (workload, a.seed, len(ok), len(pairs), a.base, a.change))
    if len(ok) < 2:
        return False
    print("%-12s %26s %26s %7s  %s" % ("metric", "base median [q1, q3]",
                                      "change median [q1, q3]", "won", "claim"))
    for m in bench["end_to_end"]:
        name, lower = m["name"], m["better"] == "lower"
        b = [p["base"][name] for p in ok]
        c = [p["change"][name] for p in ok]
        (bm, b1, b3), (cm, c1, c3) = quartiles(b), quartiles(c)
        won = sum(1 for x, y in zip(b, c) if (y < x if lower else y > x))
        better = cm < bm if lower else cm > bm
        claim = better and won * 10 >= 9 * len(pairs) and abs(cm - bm) > b3 - b1
        print("%-12s %10.1f [%6.1f, %6.1f] %10.1f [%6.1f, %6.1f] %3d/%-3d  %s"
              % (name, bm, b1, b3, cm, c1, c3, won, len(ok), "yes" if claim else "no"))
    return True


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", action="append", required=True,
                    help="a workload of BENCHMARK.json; repeat for several")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--base", default="HEAD")
    ap.add_argument("--change", default="WORKTREE")
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--dir", help="scratch directory for the two checkouts (must not exist)")
    ap.add_argument("--out", help="write every pair's metrics here as JSON")
    a = ap.parse_args()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    if a.seconds is None:
        a.seconds = bench["run_seconds"]
    work = a.dir or tempfile.mkdtemp(prefix="perf_ab_")
    sides = {"base": os.path.join(work, "base"), "change": os.path.join(work, "change")}
    export(a.base, sides["base"])
    export(a.change, sides["change"])

    results = {}
    for w in a.workload:
        results[w] = []
        if not run_pairs(w, sides, a, results[w], lambda: save(a, results)):
            results[w] = None
            break
    save(a, results)
    reported = [report(w, pairs, bench, a) for w, pairs in results.items() if pairs]
    return 0 if len(reported) == len(a.workload) and all(reported) else 1


if __name__ == "__main__":
    sys.exit(main())
