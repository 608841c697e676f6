#!/usr/bin/env python3
"""Benchmark runner. Run from the root of a checkout:

    python3 perfbench/run.py --workload <cdc_stream|corpus_session>
        --seed <n> --seconds <s> --trace <0|1>

It builds the program and the harness from source once per checkout
(sbt, offline), runs one workload in a fresh JVM, checks the outputs
against the oracle checksums in perfbench/expected.json and the stream
invariants, and prints a summary followed by one JSON line:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones.
The raw measurements and the spans of a traced run are kept under
.bench_build/results/.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import stats  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
# corpus_session's input tables (documents, embeddings at sf0.01);
# cdc_stream generates its own input
DATA = os.path.join(HERE, "data")
EXPECTED = os.path.join(HERE, "expected.json")
WORKLOADS = ("cdc_stream", "corpus_session")
JVM_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs these module opens
# (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def sources_mtime():
    newest = 0.0
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")):
        if os.path.isfile(top):
            newest = max(newest, os.path.getmtime(top))
        for d, _, files in os.walk(top):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData",
                "-Djava.io.tmpdir=" + os.path.join(BUILD, "tmp")]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts = ["-Dsbt.override.build.repos=true",
                    "-Dsbt.repository.config=" + repos] + opts
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile program + harness once per checkout; returns the classpath."""
    if os.path.exists(CLASSPATH) and os.path.getmtime(CLASSPATH) >= sources_mtime():
        return open(CLASSPATH).read().strip()
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=sbt_env(), stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=840)
    lines = open(log).read().strip().splitlines()
    if r.returncode != 0 or not lines or ".jar" not in lines[-1]:
        fail("build failed, see " + log)
    with open(CLASSPATH, "w") as f:
        f.write(lines[-1].strip())
    return lines[-1].strip()


def run_jvm(classpath, args, work, log_path):
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    # a fixed, pre-touched heap keeps peak RSS from following GC sizing
    # whims; C1 only: see README.md, "Why C1 only"
    cmd += ["-Xms1536m", "-Xmx1536m", "-XX:+AlwaysPreTouch", "-XX:ReservedCodeCacheSize=512m",
            "-XX:TieredStopAtLevel=1", "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dderby.system.home=" + work,
            "-Dspark.ui.enabled=false", "-cp", classpath, "perfbench.Main"] + args
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(log_path, "w") as out:
        p = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            return p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return -9


# ------------------------------------------------------------------ metrics

def sessions(raw):
    """corpus_session's measured sessions: [cold pass, warm pass] pairs."""
    passes = raw["passes"]
    return [passes[i:i + 2] for i in range(0, len(passes), 2)]


def check_corpus(raw, expected):
    """The check pass's results against the oracle checksums; timed runs
    against the oracle row counts. Returns (attempted, failed, problems)."""
    attempted = failed = 0
    problems = []
    for p in raw["passes"] + [raw["check"]]:
        for q in p["queries"]:
            attempted += 1
            want = expected[q["name"]]
            if q["error"]:
                bad = q["error"]
            elif p["label"] == "check":
                bad = q["checksum"] != want and "got %s want %s" % (q["checksum"], want)
            else:
                bad = q["rows"] != stats.rows_of(want) and "rows %d want %d" % (
                    q["rows"], stats.rows_of(want))
            if bad:
                failed += 1
                problems.append("%s (%s): %s" % (q["name"], p["label"], bad))
    return attempted, failed, problems


def check_stream(raw, lat_missing):
    """Conservation (every kept event once in the warehouse), store
    reconciliation and non-empty analytics. Returns (attempted, failed,
    problems), one attempt per offered event plus one per invariant."""
    c = raw["checks"]
    problems = []
    missing = max(0, c["expected_kept"] - c["distinct_ids"])
    dups = c["warehouse_rows"] - c["distinct_ids"]
    extra = max(0, c["distinct_ids"] - c["expected_kept"])
    if missing or dups or extra:
        problems.append("warehouse rows %d, distinct %d, expected %d" % (
            c["warehouse_rows"], c["distinct_ids"], c["expected_kept"]))
    invariants = {"reconcile lag": c["reconcile_lag"] == 0,
                  "sliding minutes empty": c["sliding_rows"] > 0,
                  "sliding top-K empty": c["topk_rows"] > 0,
                  "fan-out top-K empty": c["fanout_topk_rows"] > 0,
                  "batches without a warehouse commit": lat_missing == 0}
    bad = [k for k, ok in invariants.items() if not ok]
    problems += bad
    return c["offered"] + len(invariants), missing + dups + extra + len(bad), problems


def stream_latency(raw):
    s = raw["steady"]
    return stats.latencies(s["runs"], s["commit_ms"], s["first_id"], s["t0_ms"], s["rate"])


def end_to_end(raw, lat):
    """cdc_stream: catch-up events/s; event latency from due time to the
    warehouse commit; CPU of the catch-up. corpus_session: queries/s over
    the measured sessions; latency of a session (cold pass + warm pass);
    CPU of a session."""
    setup = stats.median([s["wall_s"] for s in raw["setups"]])
    if raw["workload"] == "cdc_stream":
        c = raw["catchup"]
        rate = c["events"] / c["wall_s"]
        cpu = c["cpu_s"]
        samples = lat
    else:
        passes = raw["passes"]
        rate = sum(len(p["queries"]) for p in passes) / sum(p["wall_s"] for p in passes)
        cpu = stats.median([sum(p["cpu_s"] for p in u) for u in sessions(raw)])
        samples = [sum(p["wall_s"] for p in u) * 1000.0 for u in sessions(raw)]
    tail, tail_pct = stats.tail(samples)
    metrics = {
        "setup_s": (setup, "s"),
        "throughput_per_s": (rate, "1/s"),
        "latency_p50_ms": (stats.median(samples), "ms"),
        "cpu_s": (cpu, "s"),
        "peak_rss_mb": (raw["peak_rss_mb"], "MB"),
    }
    # the tail is reported, not gated: it is set by the slowest of a few
    # micro-batches (or by the one cold pass) and its run-to-run spread
    # reached 0.27 of its median, beyond any bound the benchmark may fix
    return metrics, {"samples": len(samples), "tail_percentile": round(tail_pct, 4),
                     "latency_tail_ms": round(tail, 3)}


def per_layer(raw, query_names):
    """Per-layer figures of a traced run, each the median over the
    measured regions (corpus sessions, or the cdc catch-up phase). A
    layer the workload does not run reads 0."""
    spans = raw.get("spans", [])
    m = {}

    def put(name, value, unit):
        m[name] = (value, unit)

    if raw["workload"] == "cdc_stream":
        c = raw["catchup"]
        regions = [(c["start_ms"], c["end_ms"], c["counters"])]
    else:
        regions = [(u[0]["start_ms"], u[-1]["end_ms"],
                    {k: sum(p["counters"][k] for p in u) for k in u[0]["counters"]})
                   for u in sessions(raw)]

    def med(f):
        return stats.median([f(*r) for r in regions])

    jobs = [s for s in spans if s["layer"] == "job"]

    def job_union(st, en):
        return stats.union_length([(max(st, j["start_ms"]), min(en, j["end_ms"]))
                                   for j in jobs if j["end_ms"] > st and j["start_ms"] < en]) / 1000.0

    put("sched.jobs", med(lambda st, en, c: c["jobs"]), "count")
    put("sched.stages", med(lambda st, en, c: c["stages"]), "count")
    put("sched.tasks", med(lambda st, en, c: c["tasks"]), "count")
    put("sched.job_s", med(lambda st, en, c: job_union(st, en)), "s")
    put("sched.driver_s", med(lambda st, en, c: (en - st) / 1000.0 - job_union(st, en)), "s")
    put("exec.cpu_s", med(lambda st, en, c: c["exec_cpu_ns"] / 1e9), "s")
    put("exec.run_s", med(lambda st, en, c: c["exec_run_ms"] / 1e3), "s")
    put("exec.gc_s", med(lambda st, en, c: c["exec_gc_ms"] / 1e3), "s")
    put("shuffle.read_bytes", med(lambda st, en, c: c["shuffle_read_bytes"]), "B")
    put("shuffle.write_bytes", med(lambda st, en, c: c["shuffle_write_bytes"]), "B")
    put("exec.spill_bytes", med(lambda st, en, c: c["spill_bytes"]), "B")
    put("tables.input_bytes", med(lambda st, en, c: c["input_bytes"]), "B")
    for layer in ("pass", "job", "stage", "trigger"):
        put("self.%s_s" % layer,
            med(lambda st, en, c: stats.self_by_layer(spans, st, en).get(layer, 0.0) / 1000.0),
            "s")

    put("tables.scan_s", stats.median([s.get("scan_s", 0.0) for s in raw["setups"]]), "s")
    t = raw.get("transforms", {})
    for k in ("parse_s", "enrich_s", "derive_s"):
        put("transforms." + k, t.get(k, 0.0), "s")
    put("transforms.kept_ratio", t["kept"] / t["parsed"] if t else 0.0, "ratio")
    a = raw.get("aggregates", {})
    for k in ("minute_s", "sliding_s", "topk_s"):
        put("aggregates." + k, a.get(k, 0.0), "s")
    stream_layers(raw, put)
    memo = raw.get("memo", {})
    put("memo.blocks", memo.get("blocks", 0), "count")
    put("memo.blocks_mb", memo.get("blocks_mb", 0.0), "MB")

    # per query: median wall over cold passes and jobs per cold execution;
    # the memo's build time is the cold - warm difference, summed
    runs = {}
    for p in raw.get("passes", []):
        for q in p["queries"]:
            runs.setdefault((q["name"], p["label"]), []).append(q)
    jobs_of = {}
    for j in jobs:
        jobs_of[j["parent"]] = jobs_of.get(j["parent"], 0) + 1
    build = 0.0
    for name in query_names:
        cold = runs.get((name, "cold"), [])
        warm = runs.get((name, "warm"), [])
        wall = stats.median([q["wall_s"] for q in cold]) if cold else 0.0
        put("query.%s_s" % name, wall, "s")
        put("query.%s.jobs" % name,
            stats.median([jobs_of.get(q["span"], 0) for q in cold]) if cold else 0, "count")
        if cold and warm:
            build += wall - stats.median([q["wall_s"] for q in warm])
    put("memo.build_s", build, "s")
    put("trace.overhead_s", raw.get("trace_self_s", 0.0), "s")
    return m


def stream_layers(raw, put):
    """Trigger phases, state and sink figures of the steady phase."""
    names = ["pipeline.trigger_ms", "pipeline.latestOffset_ms", "pipeline.getBatch_ms",
             "pipeline.queryPlanning_ms", "pipeline.addBatch_ms", "pipeline.walCommit_ms",
             "pipeline.rows_per_trigger", "pipeline.backlog_files", "fanout.batch_ms",
             "sliding.trigger_ms", "sliding.state_rows", "sliding.state_mem_bytes",
             "sliding.state_commit_ms", "gen.late_ms"]
    units = {"rows_per_trigger": "count", "backlog_files": "count", "state_rows": "count",
             "state_mem_bytes": "B"}
    vals = dict.fromkeys(names, 0.0)
    if raw["workload"] == "cdc_stream":
        s = raw["steady"]
        prog = [p for p in raw.get("stream_progress", [])
                if s["start_ms"] <= p["start_ms"] <= s["end_ms"] and p["rows"] > 0]
        pipe = [p for p in prog if p["query"] == "pipeline"]
        slid = [p for p in prog if p["query"] == "sliding"]

        def md(ps, f):
            return stats.median([f(p) for p in ps]) if ps else 0.0
        vals["pipeline.trigger_ms"] = md(pipe, lambda p: p["duration_ms"].get("triggerExecution", 0))
        for ph in ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit"):
            vals["pipeline.%s_ms" % ph] = md(pipe, lambda p: p["duration_ms"].get(ph, 0))
        vals["pipeline.rows_per_trigger"] = md(pipe, lambda p: p["rows"])
        # files on disk at each trigger start, less those taken by
        # earlier triggers (numInputRows counts raw lines, one per event);
        # generator times are on the harness clock, progress on the
        # tracer clock, both read together when the phase began
        shift = s["start_ms"] - s["t0_ms"]
        written = sorted(f[2] + shift for f in s["files"])
        consumed = backlog = 0
        for p in sorted(pipe, key=lambda p: p["start_ms"]):
            ready = sum(1 for wt in written if wt <= p["start_ms"])
            backlog = max(backlog, ready - consumed // s["file_events"])
            consumed += p["rows"]
        vals["pipeline.backlog_files"] = backlog
        vals["fanout.batch_ms"] = raw.get("fanout", {}).get("batch_ms", 0.0)
        vals["sliding.trigger_ms"] = md(slid, lambda p: p["duration_ms"].get("triggerExecution", 0))
        vals["sliding.state_rows"] = md(slid, lambda p: p["state_rows"])
        vals["sliding.state_mem_bytes"] = md(slid, lambda p: p["state_mem_bytes"])
        vals["sliding.state_commit_ms"] = md(slid, lambda p: p["state_commit_ms"])
        late = [f[2] - f[1] for f in s["files"]]
        vals["gen.late_ms"] = stats.tail(late)[0] if late else 0.0
    for n in names:
        put(n, vals[n], units.get(n.split(".", 1)[1], "ms"))


# --------------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("run from the root of a checkout of the program (build.sbt, src/main/scala/graft)")
    if not os.path.isfile(EXPECTED) or not os.path.isdir(DATA):
        fail("missing perfbench/expected.json or perfbench/data")
    expected = json.load(open(EXPECTED))["queries"]

    classpath = build()
    tag = "%s-seed%d-trace%d" % (a.workload, a.seed, a.trace)
    work = os.path.join(BUILD, "work", tag)
    results = os.path.join(BUILD, "results")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(results, exist_ok=True)
    raw_path = os.path.join(results, tag + ".json")
    log_path = os.path.join(results, tag + ".log")
    if os.path.exists(raw_path):
        os.remove(raw_path)
    t0 = time.time()
    rc = run_jvm(classpath, ["--workload", a.workload, "--seed", str(a.seed),
                             "--seconds", str(a.seconds), "--trace", str(a.trace),
                             "--data", DATA, "--work", work, "--out", raw_path],
                 work, log_path)
    shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not os.path.exists(raw_path):
        fail("workload run failed (exit %d), see %s" % (rc, log_path))
    raw = json.load(open(raw_path))

    lat = None
    if a.workload == "cdc_stream":
        lat, lat_missing = stream_latency(raw)
        attempted, failed, problems = check_stream(raw, lat_missing)
    else:
        attempted, failed, problems = check_corpus(raw, expected)

    if a.trace:
        metrics = per_layer(raw, sorted(expected))
        spans = raw.pop("spans", [])
        with open(os.path.join(results, tag + ".spans.json"), "w") as f:
            json.dump(spans, f)
        notes = {"spans": len(spans)}
    else:
        metrics, notes = end_to_end(raw, lat)

    notes.update({"loadavg_start": raw["loadavg_start"], "loadavg_end": raw["loadavg_end"],
                  "cpu_per_wall": round(raw["run"]["cpu_s"] / raw["run"]["wall_s"], 3),
                  "gc_s": round(raw["run"]["gc_s"], 3), "jvm_s": round(time.time() - t0, 1),
                  "error_rate": failed / attempted})
    if a.workload == "cdc_stream":
        late = [f[2] - f[1] for f in raw["steady"]["files"]]
        notes["gen_late_ms_p50_max"] = [round(stats.median(late), 2), round(max(late), 2)]
    print_summary(raw, metrics, notes, problems)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in sorted(metrics.items())}}))


def print_summary(raw, metrics, notes, problems):
    """Human-readable lines before the result line, including the
    figures under the names the workload is described by."""
    print("workload %s seed %s trace %d" % (raw["workload"], raw["seed"], raw["trace"]))
    named = {"error_rate": (notes["error_rate"], "ratio")}
    if raw["trace"]:
        named = {}
    elif raw["workload"] == "cdc_stream":
        named.update({"stream_catchup_eps": metrics["throughput_per_s"],
                      "stream_latency_p50_ms": metrics["latency_p50_ms"],
                      "stream_latency_tail_ms": (notes["latency_tail_ms"], "ms")})
    else:
        for label in ("cold", "warm"):
            walls = [p["wall_s"] for p in raw["passes"] if p["label"] == label]
            named["corpus_%s_s" % label] = (stats.median(walls), "s")
    for k, (v, u) in sorted(named.items()) + sorted(metrics.items()):
        print("  %-28s %16.4f %s" % (k, v, u))
    print("  notes " + json.dumps(notes))
    for p in problems:
        print("  CHECK FAILED " + p)


if __name__ == "__main__":
    main()
