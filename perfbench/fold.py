"""Fold a traced run into per-layer metrics.

Input is the harness's result (spans, counters, samples). Output is one
value per name in PER_LAYER, plus a self-time table per span name and
the phase-split accounting of each migration.

Usage: python3 perfbench/fold.py <artifact.json> [<untraced artifact.json>]
prints the self-time table, the per-layer metrics and, given the
untraced artifact of the same workload and seed, the tracing overhead.
"""
import json
import statistics
import sys

HEADLINE = ["q1_agg_pricing", "q_ann_brute_topk", "q_asof_join",
            "q_dedup_minhash_lsh", "q_dedup_ngram_jaccard", "q_flagship_star",
            "q_range_join_bucketed", "q_stream_window_batch", "q_window_running"]
PHASES = ["extract_transform", "load", "maintain", "serve", "query"]
SPARK_STATS = [("jobs", "count"), ("tasks", "count"), ("task_cpu_s", "s"),
               ("cpu_busy_ratio", "ratio"), ("shuffle_write_bytes", "bytes"),
               ("spill_bytes", "bytes"), ("gc_s", "s"), ("sched_wait_s", "s")]

# name -> unit. Counts and times are per timed repetition (a migration,
# a lookup or a catalog pass) unless the name says otherwise.
PER_LAYER = dict(
    [("setup.session_s", "s"), ("setup.generate_s", "s"), ("setup.derby_load_s", "s"),
     ("setup.warmup_s", "s"),
     ("relational.extract_transform_s", "s"), ("relational.jdbc_rows_fetched", "rows"),
     ("relational.rows_staged", "rows"), ("relational.pushdown_ratio", "ratio")]
    + [("spark.%s.%s" % (p, s), u) for p in PHASES for s, u in SPARK_STATS]
    + [("pipeline.files_loaded", "count"), ("pipeline.files_skipped", "count"),
       ("pipeline.append_s", "s"), ("pipeline.append_p50_ms", "ms"),
       ("pipeline.load_overhead_s", "s"), ("pipeline.sink_failures", "count"),
       ("pipeline.reappends", "count"), ("pipeline.useful_append_ratio", "ratio"),
       ("pipeline.unaccounted_s", "s"),
       ("storage.fs_ops", "count"), ("storage.bytes_read", "bytes"),
       ("storage.bytes_written", "bytes"), ("storage.rerun_ops_per_file", "count"),
       ("keyedtable.prepare_s", "s"), ("keyedtable.maintain_s", "s"),
       ("keyedtable.compactions", "count"), ("keyedtable.live_manifests", "count"),
       ("keyedtable.jobs_per_append", "count"), ("keyedtable.lookup_plan_ms", "ms"),
       ("keyedtable.lookup_exec_ms", "ms"), ("keyedtable.files_planned_per_lookup", "count"),
       ("keyedtable.decoded_rows_per_result", "ratio"),
       ("keyedtable.block_pruned_rows", "rows")]
    + [("queries.%s_s" % q, "s") for q in HEADLINE]
    + [("queries.%s.plan_ms" % q, "ms") for q in HEADLINE]
    + [("queries.construct_jobs", "count"), ("traced.op_p50_ms", "ms")])


def self_times(spans):
    """Per span name: calls, total and self seconds. A span's self time is
    its duration minus the part of it that its child spans cover."""
    kids = {}
    for sid, parent, name, t0, t1 in spans:
        kids.setdefault(parent, []).append((t0, t1))
    table = {}
    for sid, parent, name, t0, t1 in spans:
        covered, end = 0, t0
        for c0, c1 in sorted(kids.get(sid, [])):
            c0, c1 = max(c0, end), min(c1, t1)
            if c1 > c0:
                covered += c1 - c0
                end = c1
        row = table.setdefault(name, [0, 0.0, 0.0])
        row[0] += 1
        row[1] += (t1 - t0) / 1e9
        row[2] += (t1 - t0 - covered) / 1e9
    return table


def migrations(spans):
    """Phase split of each traced `migrate` span: extract-transform runs
    from the first source call to the first append, load from there to
    the maintenance hook, whose own time is maintain; load overhead is
    load time not spent inside appends. Returns one dict per migration."""
    out = []
    for sid, _, name, m0, m1 in spans:
        if name != "migrate":
            continue
        inner = [s for s in spans if m0 <= s[3] and s[4] <= m1 and s[0] != sid]
        first = lambda n: min((s[3] for s in inner if s[2] == n), default=None)
        src, app = first("relational.source"), first("pipeline.append")
        mt = [s for s in inner if s[2] == "keyedtable.maintain"]
        if src is None or app is None or not mt:
            continue
        mt0, mt1 = mt[-1][3], mt[-1][4]
        appends = [(s[4] - s[3]) / 1e9 for s in inner if s[2] == "pipeline.append"]
        prepare = sum((s[4] - s[3]) / 1e9 for s in inner if s[2] == "keyedtable.prepare")
        et, load, maintain = (app - src) / 1e9, (mt0 - app) / 1e9, (mt1 - mt0) / 1e9
        total = (m1 - m0) / 1e9
        parts = et + sum(appends) + maintain + (load - sum(appends))
        out.append({"migrate_s": total, "extract_transform_s": et,
                    "append_s": sum(appends), "appends": appends,
                    "maintain_s": maintain, "prepare_s": prepare,
                    "load_overhead_s": load - sum(appends),
                    "unaccounted_s": total - parts})
    return out


def per_layer(res):
    """Every PER_LAYER metric from one traced harness result; 0 where the
    workload does not exercise the layer."""
    c = res.get("counters", {})
    reps = max(1.0, c.get("reps", 0.0))
    cores = res["conditions"]["cores"]
    m = {k: 0.0 for k in PER_LAYER}
    for k, v in res.get("layers", {}).items():
        if k in m:
            m[k] = v["value"]
    for p in PHASES:
        for s, _ in SPARK_STATS:
            m["spark.%s.%s" % (p, s)] = c.get("spark.%s.%s" % (p, s), 0.0) / reps
        wall = c.get("phase.%s.wall_s" % p, 0.0)
        m["spark.%s.cpu_busy_ratio" % p] = (
            c.get("spark.%s.task_cpu_s" % p, 0.0) / (wall * cores) if wall else 0.0)
    for k in ["relational.jdbc_rows_fetched", "relational.rows_staged",
              "pipeline.files_loaded", "pipeline.files_skipped",
              "pipeline.sink_failures", "pipeline.reappends",
              "keyedtable.compactions", "keyedtable.live_manifests"]:
        m[k] = c.get(k, 0.0) / reps
    if c.get("relational.jdbc_rows_fetched"):
        m["relational.pushdown_ratio"] = (c["relational.rows_staged"]
                                          / c["relational.jdbc_rows_fetched"])
    if c.get("pipeline.appends"):
        m["pipeline.useful_append_ratio"] = c["pipeline.files_loaded"] / c["pipeline.appends"]
        m["keyedtable.jobs_per_append"] = c.get("spark.load.jobs", 0.0) / c["pipeline.appends"]
    phases = {k.split(".")[1] for k in c if k.startswith("storage.")}
    for f in ["fs_ops", "bytes_read", "bytes_written"]:
        m["storage." + f] = sum(c.get("storage.%s.%s" % (p, f), 0.0)
                                for p in phases if p not in ("idle", "rerun")) / reps
    if c.get("pipeline.files_skipped") and c.get("pipeline.reruns"):
        m["storage.rerun_ops_per_file"] = (c.get("storage.rerun.fs_ops", 0.0)
                                           / c["pipeline.reruns"] / m["pipeline.files_skipped"])
    migs = migrations(res.get("spans", []))
    if migs:
        med = lambda k: statistics.median(x[k] for x in migs)
        m["relational.extract_transform_s"] = med("extract_transform_s")
        m["pipeline.append_s"] = med("append_s")
        m["pipeline.load_overhead_s"] = med("load_overhead_s")
        m["pipeline.unaccounted_s"] = med("unaccounted_s")
        m["keyedtable.maintain_s"] = med("maintain_s")
        m["keyedtable.prepare_s"] = med("prepare_s")
        m["pipeline.append_p50_ms"] = 1e3 * statistics.median(
            a for x in migs for a in x["appends"])
    n = c.get("keyedtable.lookup.count", 0.0)
    if n:
        m["keyedtable.lookup_plan_ms"] = c.get("keyedtable.lookup.plan_ms", 0.0) / n
        m["keyedtable.lookup_exec_ms"] = c.get("keyedtable.lookup.exec_ms", 0.0) / n
        m["keyedtable.files_planned_per_lookup"] = c.get("keyedtable.lookup.files_planned", 0.0) / n
        m["keyedtable.block_pruned_rows"] = c.get("keyedtable.lookup.block_pruned_rows", 0.0) / n
        rows = c.get("keyedtable.lookup.result_rows", 0.0)
        if rows:
            m["keyedtable.decoded_rows_per_result"] = c.get("keyedtable.lookup.decoded_rows", 0.0) / rows
    for q in HEADLINE:
        xs = res.get("samples", {}).get("queries.%s_ms" % q)
        if xs:
            m["queries.%s_s" % q] = statistics.median(xs) / 1e3
            m["queries.%s.plan_ms" % q] = c.get("queries.%s.plan_ms" % q, 0.0) / reps
    m["queries.construct_jobs"] = c.get("spark.construct.jobs", 0.0) / reps
    m["traced.op_p50_ms"] = res["e2e"]["op_p50_ms"]["value"]
    return m


def accounting(res, tolerance=0.10):
    """Whether extract-transform + append + maintain + load overhead
    accounts for each traced migration's wall time, within `tolerance`.

    Load overhead is a residual, so the four parts always sum to the span
    from the first source call to the end of the maintenance hook. What
    the check can catch is time outside that span: work before the first
    extract (workspace and checkpoint scans, table preparation that runs
    early) or after maintenance (the pipeline's tail). It fails when that
    time exceeds `tolerance` of the migration, and when a migration
    lacks one of the spans, so its phase split was not measured."""
    spans = res.get("spans", [])
    migs = migrations(spans)
    traced = sum(1 for s in spans if s[2] == "migrate")
    return bool(migs) and len(migs) == traced and all(
        abs(x["unaccounted_s"]) <= tolerance * x["migrate_s"] for x in migs), migs


def report(res, untraced=None):
    lines = ["self time by span (%s, seed %s)" % (res["workload"], res["seed"]),
             "  %-34s %6s %10s %10s" % ("span", "calls", "total_s", "self_s")]
    for name, (n, tot, own) in sorted(self_times(res.get("spans", [])).items(),
                                      key=lambda kv: -kv[1][2]):
        lines.append("  %-34s %6d %10.3f %10.3f" % (name, n, tot, own))
    ok, migs = accounting(res)
    if migs:
        x = migs[len(migs) // 2]
        lines.append("migration phase split (median run): extract_transform %.3f + append "
                     "%.3f + maintain %.3f + load_overhead %.3f = %.3f of %.3f s (%s)" % (
                         x["extract_transform_s"], x["append_s"], x["maintain_s"],
                         x["load_overhead_s"], x["migrate_s"] - x["unaccounted_s"],
                         x["migrate_s"], "accounted" if ok else "NOT accounted"))
    if untraced:
        t, u = res["e2e"]["op_p50_ms"]["value"], untraced["e2e"]["op_p50_ms"]["value"]
        lines.append("tracing overhead on op_p50_ms: %.2f ms traced - %.2f ms untraced "
                     "= %+.2f ms (%+.1f%%)" % (t, u, t - u, 100.0 * (t - u) / u))
    return lines


if __name__ == "__main__":
    traced = json.load(open(sys.argv[1]))["harness"]
    untraced = json.load(open(sys.argv[2]))["harness"] if len(sys.argv) > 2 else None
    print("\n".join(report(traced, untraced)))
    for k, v in per_layer(traced).items():
        print("%-44s %14.4f %s" % (k, v, PER_LAYER[k]))
