#!/usr/bin/env python3
"""graft benchmark: three workloads, measured end to end and layer by layer.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run in a checkout compiles graft's
sources together with the benchmark's JVM program (``perfbench/src``) with
sbt; later runs reuse the build. Inputs are generated from ``--seed`` under
``perfbench/.work``. The last line of standard output is one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics`` -- the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The lines before it give the host-condition stamp, the input report, and
every metric with its unit and sample count. ``perfbench/README.md``
defines the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import gen  # noqa: E402  (the benchmark's own seeded generator)

# Why each workload is in the benchmark is recorded in README.md. The query
# sets are subsets that fit the benchmark's time budget (README.md).
WORKLOADS = {
    "batch_relational": {
        "kind": "batch", "sf": 0.1, "layer": "ops",
        "queries": ["q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier",
                    "q6_forecast_revenue", "q10_returned_item", "q13_customer_distribution",
                    "q18_large_orders", "q22_dormant_customers"]},
    "batch_llm": {
        "kind": "batch", "sf": 0.01, "docs": 250, "layer": "ops.llm",
        "queries": ["llm_longest_dup_substring", "llm_mix_weights", "llm_dedup_editdist",
                    "llm_sq8_topk"]},
    # README.md gives the basis of each stream parameter: the duplicate
    # share is that of the sf0.1 `documents` fixture (8 of 5000 texts), and
    # the offered rate is 1/7 to 1/9 of the measured catch-up rate. The open
    # loop's first `warmup_s` seconds (JIT, first file listings) are not
    # measured.
    "stream_curation": {"kind": "stream", "rate": 2000, "rows_per_file": 200,
                        "dup_share": 0.0016, "warmup_s": 4, "backlog_files": 150,
                        "backlog_rows_per_file": 200},
}

END_TO_END = [  # name, unit
    ("setup_s", "s"), ("success_rate", "ratio"), ("peak_rss_mb", "MiB"),
    ("elapsed_s", "s"), ("query_p50_s", "s"), ("query_tail_s", "s"),
    ("latency_p50_ms", "ms"), ("latency_p99_ms", "ms"),
    ("catchup_rows_per_s", "rows/s")]

SPARK_COUNTERS = [  # metric suffix, unit
    ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
    ("shuffle_write_bytes", "bytes"), ("shuffle_read_bytes", "bytes"),
    ("shuffle_records", "count"), ("spill_bytes", "bytes"),
    ("executor_run_ms", "ms"), ("executor_cpu_ms", "ms"), ("gc_ms", "ms"),
    ("core_busy_ratio", "ratio"), ("stage_skew_max", "ratio"),
    ("task_failures", "count"), ("plan_ms", "ms"), ("driver_gap_ms", "ms")]
PROCESSORS = ["nfc_normalize", "token_stats", "quality_filter", "dedup_exact"]
SPAN_KINDS = ["workload", "query", "call", "job", "stage"]

PER_LAYER = (
    [("connect.source_create_ms", "ms"), ("connect.backlog_rows_p99", "rows"),
     ("connect.backlog_growth_rows_per_s", "rows/s"), ("pipeline.build_ms", "ms")]
    + [("pipeline.%s.%s" % (p, d), "rows") for p in PROCESSORS for d in ("rows_in", "rows_out")]
    + [("pipeline.dedup_exact.keep_ratio", "ratio"),
       ("streaming.batches", "count"), ("streaming.rows_per_batch_p50", "rows"),
       ("streaming.trigger_ms_p50", "ms"), ("streaming.trigger_ms_p99", "ms"),
       ("streaming.add_batch_ms_p50", "ms"), ("streaming.query_planning_ms_p50", "ms"),
       ("streaming.latest_offset_ms_p50", "ms"), ("streaming.get_batch_ms_p50", "ms"),
       ("streaming.wal_commit_ms_p50", "ms"), ("streaming.commit_ms_p50", "ms"),
       ("streaming.idle_ms", "ms"), ("streaming.scaling_ratio", "ratio"),
       ("state.rows_total", "rows"), ("state.rows_updated_p50", "rows"),
       ("state.memory_bytes", "bytes"), ("state.commit_ms_p50", "ms"),
       ("state.pins_retained", "count"), ("state.pinned_bytes", "bytes")]
    + [("ops.%s" % n, u) for n, u in SPARK_COUNTERS]
    + [("ops.llm.%s" % n, u) for n, u in SPARK_COUNTERS]
    + [("ops.llm.suffix_index_build_s", "s"), ("ops.llm.span_frame_build_s", "s"),
       ("bench.generator_late_ms_p99", "ms"), ("bench.offered_rows_per_s", "rows/s"),
       ("bench.tracing_overhead", "ratio")]
    + [("trace.%s.%s" % (k, m), u) for k in SPAN_KINDS
       for m, u in (("self_ms", "ms"), ("spans", "count"))])

# Counters that depend on the inputs and the plan, not on host load: equal
# seeds give equal values, so they compare across contended runs.
REPEATABLE = (["ops.%s" % n for n in ("jobs", "stages", "tasks", "shuffle_write_bytes",
                                      "shuffle_records", "shuffle_read_bytes")]
              + ["ops.llm.%s" % n for n in ("jobs", "stages", "tasks")]
              + ["pipeline.%s.%s" % (p, d) for p in PROCESSORS for d in ("rows_in", "rows_out")]
              + ["pipeline.dedup_exact.keep_ratio", "state.rows_total"])

JVM_TIMEOUT_S = 150
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(1)


# ------------------------------------------------------------------ host

def host_now():
    with open("/proc/loadavg") as f:
        load = float(f.read().split()[0])
    with open("/proc/stat") as f:
        steal = int(f.readline().split()[8])
    return load, steal


# ----------------------------------------------------------------- build

def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark install found (set SPARK_HOME)")
    return home


def build(home):
    """Compile graft and the benchmark's JVM program once per checkout; rebuild when any
    source changed."""
    src = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(src):
        fail("graft sources not found: %s" % src)
    h = hashlib.sha256()
    for top in (src, os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
                os.path.join(HERE, "project", "build.properties")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    stamp = os.path.join(WORK, "build.stamp")
    if os.path.exists(os.path.join(classes, "graftbench", "Main.class")) and \
            os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return classes
    os.makedirs(WORK, exist_ok=True)
    env = dict(os.environ, SPARK_HOME=home)
    env.setdefault("COURSIER_MODE", "offline")
    with open(os.path.join(WORK, "build.log"), "w") as log:
        rc = subprocess.call(["sbt", "-batch", "compile"], cwd=HERE, env=env,
                             stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, timeout=840)
    if rc != 0:
        fail("build failed, see %s" % os.path.join(WORK, "build.log"))
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return classes


# ---------------------------------------------------------------- stats

def pct(xs, p):
    """Percentile by linear interpolation between closest ranks."""
    s = sorted(xs)
    if not s:
        return float("nan")
    k = (len(s) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def tail(xs):
    """Highest percentile with at least ten samples beyond it."""
    s = sorted(xs)
    n = len(s)
    if n < 11:
        return s[-1], 100.0, n
    return s[n - 11], 100.0 * (n - 10) / n, n


def med(xs):
    return statistics.median(xs) if xs else float("nan")


# ---------------------------------------------------------------- inputs

def fixtures(sf, seed, docs=None):
    """Fixture tables for (sf, docs, seed), cached per version of gen.py."""
    with open(gen.__file__, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    d = os.path.join(WORK, "inputs", "sf%g-docs%s-seed%d-gen%s" % (sf, docs, seed, version))
    manifest = os.path.join(d, "rows.json")
    if not os.path.exists(manifest):
        rows = gen.fixtures(d, sf, seed, docs)
        with open(manifest, "w") as f:
            json.dump(rows, f)
    with open(manifest) as f:
        return d, json.load(f)


def doc_report(texts, n_chars):
    q = statistics.quantiles(n_chars, n=4)
    return {"docs": len(texts), "dup_share": round(1 - len(set(texts)) / len(texts), 4),
            "length_quartiles_chars": [round(x, 1) for x in q]}


# ---------------------------------------------------------------- oracle

def oracle_check(fixdir, rundir, names):
    """Compare each warm-up result with its DuckDB oracle on the same
    fixtures, normalized as tools/check_oracle.py does (columns by name,
    rows sorted by every column, exact values and dtypes, array cells
    refused). Expected results are cached next to the fixtures."""
    import duckdb
    import pandas as pd
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import check_oracle as co
    with open(os.path.join(rundir, "oracle_sql.json")) as f:
        sqls = json.load(f)
    cache = os.path.join(fixdir, "oracle")
    os.makedirs(cache, exist_ok=True)
    con = None
    bad = {}
    for n in names:
        sql = sqls.get(n)
        if not sql:
            bad[n] = "no oracle SQL"
            continue
        cpath = os.path.join(cache, "%s-%s.pkl" % (n, hashlib.sha1(sql.encode()).hexdigest()[:16]))
        if os.path.exists(cpath):
            exp = pd.read_pickle(cpath)
        else:
            if con is None:
                con = duckdb.connect()
                con.execute("SET threads TO 4")
                for t in co.TABLES:
                    f = os.path.join(fixdir, t + ".parquet")
                    if os.path.exists(f):
                        con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s')" % (t, f))
            try:
                exp = con.execute(sql).fetchdf()
            except Exception as e:  # an oracle error fails this query only
                bad[n] = "oracle SQL error: %s" % e
                continue
            exp.to_pickle(cpath)
        got = co.load_result(os.path.join(rundir, "results", n))
        if got is None:
            bad[n] = "no result"
            continue
        got, exp = co.norm(got), co.norm(exp)
        arr = sorted(set(co.array_cols(got)) | set(co.array_cols(exp)))
        if arr:
            bad[n] = "array-typed columns %s" % arr
        elif list(got.columns) != list(exp.columns):
            bad[n] = "columns %s != %s" % (list(got.columns), list(exp.columns))
        elif len(got) != len(exp):
            bad[n] = "rows %d != %d" % (len(got), len(exp))
        else:
            dt = [c for c in got.columns if str(got[c].dtype) != str(exp[c].dtype)]
            if dt:
                bad[n] = "dtypes differ in %s" % dt
                continue
            try:
                pd.testing.assert_frame_equal(co.row_sorted(got), co.row_sorted(exp),
                                              check_exact=True)
            except AssertionError as e:
                bad[n] = "values differ: " + " | ".join(str(e).split("\n")[:4])
            except Exception as e:
                bad[n] = "compare crashed: %s" % e
    return bad


# ------------------------------------------------------------------ trace

def _union(intervals, lo, hi):
    total, cur = 0.0, lo
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= cur:
            continue
        total += e - max(s, cur)
        cur = e
    return total


class Tree:
    """Span tree of one traced run: the benchmark's spans plus job and stage
    spans from the listener records, each with its parent."""

    def __init__(self, trace, micro_batches=()):
        self.spans = {s["id"]: dict(s) for s in trace["spans"]}
        nid = max(self.spans, default=0) + 1
        by_batch = {}
        for mb in micro_batches:
            self.spans[nid] = dict(mb, id=nid)
            by_batch[(mb["attrs"]["run_id"], str(mb["attrs"]["batch_id"]))] = nid
            nid += 1
        self.jobs = {}
        stage_parent = {}
        for j in trace["jobs"]:
            if j["end"] < 0:
                continue
            g = j["group"]
            parent = int(g[6:]) if g.startswith("bench:") else by_batch.get((g, j["batch_id"]), 0)
            self.spans[nid] = {"id": nid, "parent": parent, "name": "job %d" % j["id"],
                               "kind": "job", "start": j["start"], "end": j["end"],
                               "attrs": {}}
            self.jobs[nid] = j
            for s in j["stages"]:
                stage_parent.setdefault(s, nid)
            nid += 1
        self.stages = {}
        for st in trace["stages"]:
            if st["submitted"] < 0:
                continue
            self.spans[nid] = {"id": nid, "parent": stage_parent.get(st["id"], 0),
                               "name": "stage %d" % st["id"], "kind": "stage",
                               "start": st["submitted"], "end": st["completed"], "attrs": {}}
            self.stages[nid] = st
            nid += 1
        self.children = {}
        for s in self.spans.values():
            self.children.setdefault(s["parent"], []).append(s["id"])

    def self_ms(self, sid):
        s = self.spans[sid]
        kids = [(self.spans[k]["start"], self.spans[k]["end"]) for k in self.children.get(sid, [])]
        return (s["end"] - s["start"]) - _union(kids, s["start"], s["end"])

    def under(self, sid, kind):
        out, todo = [], list(self.children.get(sid, []))
        while todo:
            k = todo.pop()
            if self.spans[k]["kind"] == kind:
                out.append(k)
            todo.extend(self.children.get(k, []))
        return out

    def kind_metrics(self):
        m = {}
        for k in SPAN_KINDS:
            ids = [i for i, s in self.spans.items() if s["kind"] == k]
            m["trace.%s.self_ms" % k] = sum(self.self_ms(i) for i in ids)
            m["trace.%s.spans" % k] = len(ids)
        return m


def spark_counters(tree, roots, cores, planning):
    """Per-query Spark counters summed over the query spans `roots`."""
    tot = {n: 0.0 for n, _ in SPARK_COUNTERS}
    per_query = {}
    skew = 0.0
    for q in roots:
        span = tree.spans[q]
        jobs = tree.under(q, "job")
        stages = [tree.stages[s] for j in jobs for s in tree.children.get(j, [])
                  if s in tree.stages]
        wall = span["end"] - span["start"]
        c = {"jobs": len(jobs), "stages": len(stages),
             "tasks": sum(s["tasks"] for s in stages),
             "shuffle_write_bytes": sum(s["shuffle_write_bytes"] for s in stages),
             "shuffle_read_bytes": sum(s["shuffle_read_bytes"] for s in stages),
             "shuffle_records": sum(s["shuffle_records"] for s in stages),
             "spill_bytes": sum(s["spill_bytes"] for s in stages),
             "executor_run_ms": sum(s["run_ms"] for s in stages),
             "executor_cpu_ms": sum(s["cpu_ms"] for s in stages),
             "gc_ms": sum(s["gc_ms"] for s in stages),
             "task_failures": sum(s["task_failures"] for s in stages),
             "shuffles": sum(1 for s in stages if s["shuffle_write_bytes"] > 0),
             "input_shuffles": sum(1 for s in stages if s["shuffle_write_bytes"] > 0
                                   and s["shuffle_read_bytes"] == 0),
             "plan_ms": sum(p["ms"] for p in planning if span["start"] <= p["start"] <= span["end"]),
             "driver_gap_ms": wall - _union([(tree.spans[j]["start"], tree.spans[j]["end"])
                                             for j in jobs], span["start"], span["end"]),
             "wall_ms": wall}
        for s in stages:
            t = sorted(s["task_ms"])
            if len(t) >= 2 and statistics.median(t) > 0:
                skew = max(skew, t[-1] / statistics.median(t))
        per_query[span["name"]] = c
        for n in tot:
            if n in c:
                tot[n] += c[n]
    wall = sum(c["wall_ms"] for c in per_query.values())
    tot["core_busy_ratio"] = tot["executor_run_ms"] / (wall * cores) if wall else 0.0
    tot["stage_skew_max"] = skew
    return tot, per_query


# ---------------------------------------------------------------- batch

def batch_metrics(cfg, res, fixdir, rundir, rows, trace, cores):
    bad = oracle_check(fixdir, rundir, cfg["queries"])
    execs = [e for e in res["execs"] if not e["traced"]]
    failed = [e for e in execs if e["error"] or not e["same_as_warmup"] or e["name"] in bad]
    warm_errors = {e["name"]: e["error"] for e in res["warmup"] if e["error"]}
    lat = [(e["end"] - e["start"]) / 1000.0 for e in execs]
    passes = [(p["end"] - p["start"]) / 1000.0 for p in res["passes"] if not p["traced"]]
    scanned = {n: sum(rows.get(f.split(".")[0], 0) for f in fs)
               for n, fs in res["scanned_files"].items()}
    tv, tp, tn = tail(lat)
    e2e = {
        "setup_s": res["setup_ms"] / 1000.0,
        "success_rate": 1.0 - len(failed) / len(execs),
        "peak_rss_mb": res["peak_rss_mb"],
        "elapsed_s": med(passes),
        "query_p50_s": med(lat),
        "query_tail_s": tv,
        "latency_p50_ms": 1000.0 * med(lat),
        "latency_p99_ms": 1000.0 * pct(lat, 99),
        "catchup_rows_per_s": sum(scanned[e["name"]] for e in execs) / sum(lat),
    }
    notes = {"query_tail_s": "p%.1f of %d executions" % (tp, tn),
             "latency_p99_ms": "p99 of %d executions" % len(lat),
             "query_p50_s": "%d executions" % len(lat),
             "elapsed_s": "median of %d passes" % len(passes),
             "setup_s": "JVM launch + session + views + warm-up pass"}
    problems = dict(bad)
    problems.update({n: "warm-up threw: %s" % m for n, m in warm_errors.items()})
    problems.update({"%s pass %d" % (e["name"], e["pass"]): e["error"] or "result differs from warm-up"
                     for e in execs if e["error"] or not e["same_as_warmup"]})
    layer = {}
    if trace is not None:
        tree = Tree(trace)
        passes_t = [s for s in trace["spans"] if s["kind"] == "workload"]
        first = min(passes_t, key=lambda s: s["start"])
        roots = [c for c in tree.children.get(first["id"], []) if tree.spans[c]["kind"] == "query"]
        tot, per_query = spark_counters(tree, roots, cores, trace["planning"])
        for n, _ in SPARK_COUNTERS:
            layer["%s.%s" % (cfg["layer"], n)] = tot[n]
        layer.update(tree.kind_metrics())
        qspans = [tree.spans[r] for r in roots]
        layer["state.pins_retained"] = max((s["attrs"].get("pins_retained", 0) for s in qspans), default=0)
        layer["state.pinned_bytes"] = max((s["attrs"].get("pinned_bytes", 0) for s in qspans), default=0)
        g = trace.get("gauges", {})
        if cfg["layer"] == "ops.llm":
            layer["ops.llm.suffix_index_build_s"] = g.get("suffix_index_build_s", 0.0)
            layer["ops.llm.span_frame_build_s"] = g.get("span_frame_build_s", 0.0)
        traced = [(p["end"] - p["start"]) / 1000.0 for p in res["passes"] if p["traced"]]
        layer["bench.tracing_overhead"] = med(traced) / med(passes)
        with open(os.path.join(WORK, "last", "%s.per_query.json" % cfg["name"]), "w") as f:
            json.dump(per_query, f, indent=1, sort_keys=True)
    return e2e, notes, len(execs), len(failed), problems, layer


# ---------------------------------------------------------------- stream

def _progress(jsons):
    out = []
    for j in jsons:
        p = json.loads(j)
        if p.get("numInputRows", 0) <= 0:
            continue
        p["t0"] = _epoch_ms(p["timestamp"])
        p["t1"] = p["t0"] + p["durationMs"].get("triggerExecution", 0)
        out.append(p)
    return out


def _epoch_ms(ts):
    from datetime import datetime, timezone
    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=timezone.utc).timestamp() * 1000.0


def stream_metrics(cfg, res, sdir, trace):
    open_ = res["open"]
    if open_["generator_rc"] != 0:
        fail("stream generator exited with %d" % open_["generator_rc"])
    with open(os.path.join(sdir, "generator.json")) as f:
        log = json.load(f)  # [scheduled ms, landed ms, rows] per file
    checks = [("open loop", open_["check"])] + [(d["tag"], d["check"]) for d in res["drains"]] \
        + [(d["tag"], d["check"]) for d in res["single_core"]]
    attempted = sum(c["expected"] for _, c in checks)
    failed = sum(c["lost"] + c["duplicated"] + c["unexpected"] for _, c in checks) \
        + sum(1 for _, c in checks if not c["unique_ids"])
    problems = {t: c for t, c in checks
                if c["lost"] or c["duplicated"] or c["unexpected"] or not c["unique_ids"]}
    lat = open_["latencies_ms"]
    prog = [p for p in _progress(open_["progress"]) if p["t0"] >= open_["measure_from"]]
    trig = [p["durationMs"]["triggerExecution"] / 1000.0 for p in prog]
    drains = [d for d in res["drains"] if not d["traced"]]
    dtime = [(d["end"] - d["start"]) / 1000.0 for d in drains]
    rate = [d["rows_in"] / t for d, t in zip(drains, dtime)]
    tv, tp, tn = tail(trig)
    e2e = {
        "setup_s": res["setup_ms"] / 1000.0,
        "success_rate": 1.0 - failed / attempted,
        "peak_rss_mb": res["peak_rss_mb"],
        "elapsed_s": med(dtime),
        "query_p50_s": med(trig),
        "query_tail_s": tv,
        "latency_p50_ms": med(lat),
        "latency_p99_ms": pct(lat, 99),
        "catchup_rows_per_s": med(rate),
    }
    notes = {"latency_p50_ms": "%d rows at %d rows/s offered, after a %g s warm-up"
                               % (len(lat), cfg["rate"], cfg["warmup_s"]),
             "latency_p99_ms": "p99 of %d rows" % len(lat),
             "query_p50_s": "%d micro-batches" % len(trig),
             "query_tail_s": "p%.1f of %d micro-batches" % (tp, tn),
             "elapsed_s": "backlog drain, median of %d" % len(dtime),
             "catchup_rows_per_s": "%d backlog rows, median of %d drains"
                                   % (drains[0]["rows_in"] if drains else 0, len(rate)),
             "setup_s": "JVM launch + session + pipeline build + query start + warm-up batch"}
    tick_ms = 1000.0 * cfg["rows_per_file"] / cfg["rate"]
    late = [landed - sched for sched, landed, _ in log]
    gen_report = {
        "offered_rows_per_s": sum(r for _, _, r in log) * 1000.0
        / (log[-1][0] - log[0][0] + tick_ms) if log else 0.0,
        "generator_late_ms_p99": pct(late, 99) if late else 0.0}
    layer = {}
    if trace is not None:
        layer.update(stream_layers(res, trace, log, gen_report, tick_ms))
    return e2e, notes, attempted, failed, problems, layer, gen_report


def stream_layers(res, trace, log, gen_report, tick_ms):
    open_ = res["open"]
    mine = [p for p in _progress(trace["progress"]) if p["runId"] == open_["run_id"]]
    loop = [p for p in mine if p["t0"] >= open_["start"] - 1]
    prog = [p for p in loop if p["t0"] >= open_["measure_from"]]
    L = {}
    # workload spans: the open loop and each traced drain; micro-batches
    # hang under the one whose query ran them
    wl, parent = [], {}
    phases = [("open loop", open_)] + [(d["tag"], d) for d in res["drains"] if d["traced"]]
    for i, (tag, ph) in enumerate(phases):
        wl.append({"id": -1 - i, "parent": 0, "name": "stream_curation " + tag,
                   "kind": "workload", "start": ph["start"], "end": ph["end"], "attrs": {}})
        parent[ph["run_id"]] = -1 - i
    mbs = [{"parent": parent.get(p["runId"], 0), "name": "batch %d" % p["batchId"],
            "kind": "query", "start": p["t0"], "end": p["t1"],
            "attrs": {"run_id": p["runId"], "batch_id": p["batchId"]}}
           for p in _progress(trace["progress"])]
    tree = Tree({"spans": trace["spans"] + wl, "jobs": trace["jobs"],
                 "stages": trace["stages"]}, mbs)
    L.update(tree.kind_metrics())
    d = lambda k: [p["durationMs"].get(k, 0) for p in prog]
    L["streaming.batches"] = len(prog)
    L["streaming.rows_per_batch_p50"] = med([p["numInputRows"] for p in prog])
    L["streaming.trigger_ms_p50"] = med(d("triggerExecution"))
    L["streaming.trigger_ms_p99"] = pct(d("triggerExecution"), 99)
    L["streaming.add_batch_ms_p50"] = med(d("addBatch"))
    L["streaming.query_planning_ms_p50"] = med(d("queryPlanning"))
    L["streaming.latest_offset_ms_p50"] = med(d("latestOffset"))
    L["streaming.get_batch_ms_p50"] = med(d("getBatch"))
    L["streaming.wal_commit_ms_p50"] = med(d("walCommit"))
    L["streaming.commit_ms_p50"] = med(d("commitOffsets"))
    so = [p["stateOperators"][0] for p in prog if p.get("stateOperators")]
    L["state.rows_total"] = so[-1]["numRowsTotal"] if so else 0
    L["state.rows_updated_p50"] = med([s["numRowsUpdated"] for s in so]) if so else 0
    L["state.memory_bytes"] = max((s["memoryUsedBytes"] for s in so), default=0)
    L["state.commit_ms_p50"] = med([s.get("commitTimeMs", 0) for s in so]) if so else 0
    obs = {}
    for p in mine:
        for k, v in (p.get("observedMetrics") or {}).items():
            obs[k] = obs.get(k, 0) + v.get("rows", 0)
    prev = "source"
    for proc in PROCESSORS:
        L["pipeline.%s.rows_in" % proc] = obs.get("rows_" + prev, 0)
        L["pipeline.%s.rows_out" % proc] = obs.get("rows_" + proc, 0)
        prev = proc
    din = L["pipeline.dedup_exact.rows_in"]
    L["pipeline.dedup_exact.keep_ratio"] = L["pipeline.dedup_exact.rows_out"] / din if din else 0.0
    L["pipeline.build_ms"] = res["pipeline_build_ms"]
    L["connect.source_create_ms"] = res["source_create_ms"]
    # backlog: rows landed by the generator and not yet committed by a
    # batch, sampled over the measured window
    lo, hi = open_["measure_from"], open_["end"]
    landed = sorted((t, r) for _, t, r in log)
    commits = sorted((p["t1"], p["numInputRows"]) for p in loop)
    runs = [(p["t0"], p["t1"]) for p in loop]
    samples, idle, t = [], 0.0, lo
    li = ci = 0
    w = c = 0
    step = 5.0
    while t <= hi:
        while li < len(landed) and landed[li][0] <= t:
            w += landed[li][1]; li += 1
        while ci < len(commits) and commits[ci][0] <= t:
            c += commits[ci][1]; ci += 1
        b = max(0, w - c)
        samples.append((t, b))
        if b > 0 and not any(s <= t < e for s, e in runs):
            idle += step
        t += step
    L["connect.backlog_rows_p99"] = pct([b for _, b in samples], 99)
    gen_end = log[-1][0] + tick_ms if log else hi
    xs = [(t - lo) / 1000.0 for t, _ in samples if t <= gen_end]
    ys = [b for t, b in samples if t <= gen_end]
    mx, my = statistics.fmean(xs), statistics.fmean(ys)
    sxx = sum((x - mx) ** 2 for x in xs)
    L["connect.backlog_growth_rows_per_s"] = \
        sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sxx if sxx else 0.0
    L["streaming.idle_ms"] = idle
    nd = [dr for dr in res["drains"] if not dr["traced"]]
    td = [dr for dr in res["drains"] if dr["traced"]]
    rate = med([dr["rows_in"] * 1000.0 / (dr["end"] - dr["start"]) for dr in nd])
    one = res["single_core"][0]
    L["streaming.scaling_ratio"] = rate / (one["rows_in"] * 1000.0 / (one["end"] - one["start"]))
    L["bench.tracing_overhead"] = med([dr["end"] - dr["start"] for dr in td]) / \
        med([dr["end"] - dr["start"] for dr in nd])
    L["bench.generator_late_ms_p99"] = gen_report["generator_late_ms_p99"]
    L["bench.offered_rows_per_s"] = gen_report["offered_rows_per_s"]
    return L


def write_stream(d, seed, cfg, files, first_id, rows_per_file=None):
    """Pre-written stream files (warm-up, backlog); their rows carry no send
    time (`sched_ms` 0), so they add no latency sample."""
    rpf = rows_per_file or cfg["rows_per_file"]
    rows = gen.StreamRows(seed, cfg["dup_share"], first_id)
    os.makedirs(d, exist_ok=True)
    for k in range(files):
        gen.write_file(d, "w%05d.parquet" % k, rows.take(rpf, 0))


# ------------------------------------------------------------------ main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--sf", type=float, help="override the batch scale factor (self-test)")
    ap.add_argument("--plant-drop", action="store_true",
                    help="make the stream sink lose one row (self-test)")
    a = ap.parse_args()
    cfg = dict(WORKLOADS[a.workload], name=a.workload)
    if a.sf:
        cfg["sf"] = a.sf
    cores = os.cpu_count() or 1
    if hasattr(os, "sched_getaffinity"):
        cores = len(os.sched_getaffinity(0))
    home = spark_home()
    t_build = time.time()
    classes = build(home)
    load0, steal0 = host_now()
    phases = {"build_s": time.time() - t_build}
    t_inputs = time.time()
    os.makedirs(os.path.join(WORK, "last"), exist_ok=True)
    rundir = os.path.join(WORK, "runs", "%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    shutil.rmtree(rundir, ignore_errors=True)
    os.makedirs(os.path.join(rundir, "tmp"))
    args = ["--workload", a.workload, "--out", rundir, "--seconds", "%g" % a.seconds,
            "--trace", str(a.trace), "--cores", str(cores), "--seed", str(a.seed)]
    report = {}
    if cfg["kind"] == "batch":
        fixdir, rows = fixtures(cfg["sf"], a.seed, cfg.get("docs"))
        import pandas as pd
        docs = pd.read_parquet(os.path.join(fixdir, "documents.parquet"))
        report = dict(doc_report(list(docs.text), list(docs.n_chars)), sf=cfg["sf"], rows=rows)
        args += ["--data", fixdir, "--queries", ",".join(cfg["queries"]),
                 "--passes", "3" if a.trace else "1"]
    else:
        sdir = os.path.join(rundir, "stream")
        write_stream(sdir + "/open", a.seed * 31 + 1, cfg, 1, first_id=10 ** 9)  # warm-up file
        write_stream(sdir + "/backlog", a.seed * 31, cfg, cfg["backlog_files"],
                     first_id=10 ** 12, rows_per_file=cfg["backlog_rows_per_file"])
        args += ["--stream-dir", sdir, "--python", sys.executable,
                 "--gen", os.path.join(HERE, "gen.py"), "--dup-share", str(cfg["dup_share"]),
                 "--rows-per-file", str(cfg["rows_per_file"]), "--rate", str(cfg["rate"]),
                 "--warmup-s", str(cfg["warmup_s"]),
                 "--drains", "4" if a.trace else "3",
                 "--plant-drop", "1" if a.plant_drop else "0"]
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java] + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] + [
        # a fixed heap and young generation keep VmHWM from following the
        # collector's resizing decisions
        "-Xms3g", "-Xmx3g", "-Xmn1g", "-XX:-UsePerfData",
        "-Djava.io.tmpdir=" + os.path.join(rundir, "tmp"),
        "-cp", classes + os.pathsep + os.path.join(home, "jars", "*"), "graftbench.Main"]
    phases["inputs_s"] = time.time() - t_inputs
    launch_ms = time.time() * 1000.0
    with open(os.path.join(rundir, "jvm.log"), "w") as log:
        # SPARK_LOCAL_DIRS, if set, would override spark.local.dir
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(rundir, "spark-local"))
        # own process group, so a timeout also stops the generator it runs
        proc = subprocess.Popen(cmd + args + ["--launch-ms", "%.3f" % launch_ms], cwd=rundir,
                                env=env, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = "timeout"
    phases["jvm_s"] = time.time() - launch_ms / 1000.0
    t_check = time.time()
    keep = os.path.join(WORK, "last", a.workload + ".jvm.log")
    shutil.copyfile(os.path.join(rundir, "jvm.log"), keep)
    result = os.path.join(rundir, "result.json")
    if rc != 0 or not os.path.exists(result):
        fail("benchmark JVM failed (%s), log: %s" % (rc, keep))
    shutil.copyfile(result, os.path.join(WORK, "last", a.workload + ".result.json"))
    with open(result) as f:
        res = json.load(f)
    trace = None
    if a.trace:
        with open(os.path.join(rundir, "trace.json")) as f:
            trace = json.load(f)
        shutil.copyfile(os.path.join(rundir, "trace.json"),
                        os.path.join(WORK, "last", a.workload + ".trace.json"))
    if cfg["kind"] == "batch":
        e2e, notes, attempted, failed, problems, layer = batch_metrics(
            cfg, res, fixdir, rundir, rows, trace, cores)
    else:
        import pyarrow.parquet as pq
        t = pq.read_table(os.path.join(sdir, "open")).to_pydict()
        e2e, notes, attempted, failed, problems, layer, gen_report = stream_metrics(
            cfg, res, sdir, trace)
        report = dict(doc_report(t["text"], t["n_chars"]), **gen_report)
    phases["check_s"] = time.time() - t_check
    load1, steal1 = host_now()
    host = {"nproc": cores, "load_start": load0, "load_end": load1,
            "steal_cpu_s": (steal1 - steal0) / os.sysconf("SC_CLK_TCK")}
    shutil.rmtree(rundir, ignore_errors=True)

    print("host: " + json.dumps(host))
    print("inputs: " + json.dumps(report))
    print("wall: " + json.dumps({k: round(v, 2) for k, v in phases.items()}))
    if problems:
        print("failures: " + json.dumps(problems, default=str)[:4000])
    print("error_rate = %d/%d = %.6f" % (failed, attempted, failed / attempted))
    if a.trace:
        names = PER_LAYER
        values = {n: float(layer.get(n, 0.0)) for n, _ in names}
        print("repeatable counters: " + ", ".join(REPEATABLE))
    else:
        names = END_TO_END
        values = e2e
    for n, u in names:
        print("%-36s %16.6f %-8s %s" % (n, values[n], u, notes.get(n, "") if not a.trace else ""))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {n: {"value": values[n], "unit": u} for n, u in names}}))


if __name__ == "__main__":
    main()
