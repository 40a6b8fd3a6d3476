#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one run.

Usage:
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The script builds the program and the
harness from source (sbt, skipped while sources are unchanged),
generates the workload's inputs from the seed, runs the harness JVM,
checks the outputs, and prints every metric by name with its unit. The
last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}, with the end-to-end
metrics of BENCHMARK.json for --trace 0 and its per-layer metrics for
--trace 1. The full artifact of the run goes to perfbench/out/.

Workloads (see BENCHMARK.json for why each was chosen): migrate,
catalog_headline.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import fold  # noqa: E402
import gen  # noqa: E402

BUILD = os.path.join(HERE, "build")
HARNESS = os.path.join(HERE, "harness")
TIME_LIMIT_S = 170
# generator sizes: payment rows of the reference star (contacts, cards and
# addresses scale with it), and the catalog tables' share of sf0.01
WORKLOADS = {
    "migrate": {"payments": 50000},
    "catalog_headline": {"scale": 0.5},
}
END_TO_END = ["setup_s", "op_p50_ms", "op2_p50_ms", "read_p50_ms", "peak_rss_mb"]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads: program and harness sources."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
             os.path.join(ROOT, "src", "main"), HARNESS]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(r)
            for f in fs if "target" not in os.path.relpath(d, r).split(os.sep))
        for p in paths:
            if p.endswith((".sbt", ".scala", ".java", ".properties")):
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as f:
                    h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compile program + harness; return the runtime classpath."""
    stamp = source_stamp()
    cp_file, stamp_file = os.path.join(BUILD, "classpath.txt"), os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        cp = open(cp_file).read().strip()
        if open(stamp_file).read() == stamp and all(
                os.path.exists(p) for p in cp.split(os.pathsep)):
            return cp
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    log = os.path.join(BUILD, "sbt.log")
    with open(log, "w") as out:
        rc = subprocess.call(["sbt", "-batch", "-Dsbt.server.autostart=false",
                              "-J-XX:-UsePerfData", "-J-Djava.io.tmpdir=" + tmp,
                              "compile", "export Runtime/fullClasspath"],
                             cwd=HARNESS, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, timeout=840)
    lines = open(log).read().strip().splitlines()
    if rc != 0 or not lines or os.pathsep not in lines[-1]:
        fail("build failed, see %s" % log)
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_times():
    """Machine-wide jiffies from /proc/stat: (total, steal)."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v[:8]), v[7]


def generate(workload, seed, in_dir):
    """Inputs of one workload; returns rows per generated table."""
    size = WORKLOADS[workload]
    if workload == "catalog_headline":
        return gen.gen_catalog(os.path.join(in_dir, "catalog"), seed, size["scale"])
    return gen.gen_star(os.path.join(in_dir, "star"), seed, size["payments"])


def check_oracles(cat_dir, out_dir):
    """Compare each catalog output with its DuckDB oracle over the same
    tables with the repository's own gate, tools/check_oracles.py
    (column names, pandas column types, sorted rows, exact values).
    Returns (checked entry names, failure lines)."""
    p = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check_oracles.py"),
                        cat_dir, out_dir], capture_output=True, text=True, timeout=120)
    lines = p.stdout.splitlines()
    passed = [ln.split()[1] for ln in lines if ln.startswith("PASS ")]
    failed = [ln[len("FAIL "):] for ln in lines if ln.startswith("FAIL ")]
    if p.returncode != 0 and not failed:
        failed = ["tools/check_oracles.py exited with %d: %s"
                  % (p.returncode, p.stderr.strip()[-500:])]
    return passed, failed


def end_to_end(res):
    """The end-to-end metrics of BENCHMARK.json; a run that failed before
    measuring one leaves it out."""
    return {k: res["e2e"][k] for k in END_TO_END if k in res["e2e"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    started = time.time()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("no program sources next to the benchmark (build.sbt, src/main/scala); "
             "run from a full checkout")
    if not os.path.isfile(os.path.join(ROOT, "tools", "check_oracles.py")):
        fail("no tools/check_oracles.py next to the benchmark; run from a full checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are needed to build and run the program")
    cp = build()

    nproc = os.cpu_count() or 1
    # half the processors: the driver thread, JIT and GC get the other half
    cores = max(1, min(4, nproc // 2))
    run_id = "%s-seed%d-trace%d" % (a.workload, a.seed, a.trace)
    work = os.path.join(HERE, "work", run_id)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "jvm"))
    os.makedirs(os.path.join(work, "tmp"))
    load_before = loadavg()
    guard_max = max(1.0, nproc / 2.0)
    guard = "ok" if load_before[0] <= guard_max else \
        "contended(loadavg=%.2f>%.1f)" % (load_before[0], guard_max)

    setup_start = time.time()
    in_dir = os.path.join(work, "in")
    rows = generate(a.workload, a.seed, in_dir)
    generate_s = time.time() - setup_start
    in_bytes = sum(os.path.getsize(os.path.join(d, f))
                   for d, _, fs in os.walk(in_dir) for f in fs)

    heap = os.environ.get("SPARK_DRIVER_MEM", "1g")
    code_cache = os.environ.get("SPARK_CODE_CACHE", "256m")
    result_file = os.path.join(work, "result.json")
    # the heap is pinned (-Xms = -Xmx): its size never depends on the run
    cmd = (["java", "-Xms" + heap, "-Xmx" + heap, "-XX:ReservedCodeCacheSize=" + code_cache]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           # every file the JVM writes stays in the run's work directory
           + ["-XX:-UsePerfData", "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
              "-Dderby.stream.error.file=" + os.path.join(work, "derby.log"),
              "-cp", (os.path.join(HARNESS, "traced-conf") + os.pathsep if a.trace else "") + cp,
              "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--in", in_dir, "--work", os.path.join(work, "jvm"),
              "--out", result_file, "--cores", str(cores),
              "--setup-start-ms", str(int(setup_start * 1000))])
    jvm_log = os.path.join(work, "jvm.log")
    cpu_before = cpu_times()
    with open(jvm_log, "w") as log:
        proc = subprocess.Popen(cmd, cwd=os.path.join(work, "jvm"), stdout=log,
                                stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=max(10, TIME_LIMIT_S - (time.time() - started)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail("harness timed out, see %s" % jvm_log)
    if rc != 0 or not os.path.exists(result_file):
        sys.stderr.write(open(jvm_log).read()[-4000:])
        fail("harness exited with %d" % rc)
    res = json.load(open(result_file))
    res["layers"]["setup.generate_s"] = {"value": generate_s, "unit": "s"}
    checks = res["checks"]
    if a.workload == "catalog_headline":
        passed, bad = check_oracles(os.path.join(in_dir, "catalog"),
                                    os.path.join(work, "jvm", "catalog_out"))
        res["attempted"] += len(passed) + len(bad)
        res["failed"] += len(bad)
        checks += [{"name": "oracle " + n, "ok": True, "detail": ""} for n in passed]
        checks += [{"name": "oracle", "ok": False, "detail": b} for b in bad]
    if a.trace and a.workload == "migrate":
        # the traced phase split must account for each migration's wall time
        ok, migs = fold.accounting(res)
        res["attempted"] += 1
        res["failed"] += 0 if ok else 1
        checks.append({"name": "phase split accounts for migrate_s", "ok": ok,
                       "detail": "" if ok else "unaccounted %s s of %s s" % (
                           [round(x["unaccounted_s"], 3) for x in migs],
                           [round(x["migrate_s"], 3) for x in migs])})
    correct = res["failed"] == 0 and all(c["ok"] for c in checks)

    res["conditions"].update({
        "seed": a.seed, "nproc": nproc, "heap": heap, "code_cache": code_cache,
        "input_rows": rows, "input_bytes": in_bytes, "loadavg_before": load_before,
        "loadavg_after": loadavg(), "load_guard": guard,
        # share of the machine's CPU time the hypervisor took away while
        # the harness ran: a run with much steal measured a slower box
        "steal_pct": 100.0 * (cpu_times()[1] - cpu_before[1])
        / max(1, cpu_times()[0] - cpu_before[0]),
        "load_guard_threshold": guard_max, "run_seconds": a.seconds})
    if not correct:
        metrics = {}
    elif a.trace:
        metrics = {k: {"value": v, "unit": fold.PER_LAYER[k]}
                   for k, v in fold.per_layer(res).items()}
    else:
        metrics = end_to_end(res)
    info = res["info"]
    info["fail_ratio"] = res["failed"] / max(1, res["attempted"])

    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    shutil.copy(jvm_log, os.path.join(out_dir, run_id + ".log"))
    with open(os.path.join(out_dir, run_id + ".json"), "w") as f:
        json.dump({"metrics": metrics, "harness": res}, f, indent=1)

    print("perfbench %s seed=%d trace=%d master=local[%d] nproc=%d heap=%s load_guard=%s"
          % (a.workload, a.seed, a.trace, cores, nproc, heap, guard))
    for k, v in sorted(info.items()):
        print("  %-28s %s" % (k, v))
    if a.trace:
        print("\n".join(fold.report(res)))
    for k, v in metrics.items():
        print("  %-44s %14.4f %s" % (k, v["value"], v["unit"]))
    for c in checks:
        if not c["ok"]:
            print("  CHECK FAILED %s %s" % (c["name"], c["detail"]))
    print("  correct: %s (%d failed of %d attempted)"
          % (correct, res["failed"], res["attempted"]))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
