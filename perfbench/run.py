#!/usr/bin/env python3
"""The repository's benchmark: three workloads, each run in a fresh JVM.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run compiles the program
(src/main/scala) together with the benchmark's own Scala sources
(perfbench/src) into $CARGO_TARGET_DIR (default .bench_build); later runs
reuse the classes while no source file changed. Workloads:

  stream_cms     open-loop tweet stream into TrendJobs.cmsJob
  trend_queries  closed-loop dashboard client over trend and sketch queries
  corpus_batch   one pass over iterative and shuffle-heavy corpus builders

With --trace 0 the last stdout line carries the end-to-end metrics; with
--trace 1 the run is made twice, untraced and then traced, and the last line
carries the per-layer metrics. perfbench/NOTES.md explains every metric.

Maintenance modes (not used by a measured run):
  --record         rewrite perfbench/expected_sf0.1.json from this build
  --invariance Q,.. print checksums of queries under 1 and 4 shuffle partitions
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import stats  # noqa: E402

ROOT = os.path.dirname(HERE)
MAIN_SRC = os.path.join(ROOT, "src", "main", "scala")
MAIN_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src")
DATA = os.path.join(HERE, "data")
EXPECTED = os.path.join(HERE, "expected_sf0.1.json")
WORKLOADS = ("stream_cms", "trend_queries", "corpus_batch")
RUN_LIMIT_S = 170          # the whole invocation, after any build
# a fixed heap with a fixed young generation: the JVM's footprint then follows
# the live data, not GC's adaptive sizing, so peak RSS repeats run to run
JVM_MEMORY = ["-Xms4g", "-Xmx4g", "-Xmn1g"]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The Spark jars the project builds against: build.sbt's unmanagedBase,
    else $SPARK_HOME/jars."""
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            return m.group(1)
    except OSError:
        pass
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    fail("no Spark jars: build.sbt names no unmanagedBase and SPARK_HOME is unset")


def build_root():
    b = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return b if os.path.isabs(b) else os.path.join(ROOT, b)


def scala_sources():
    out = []
    for base in (MAIN_SRC, BENCH_SRC):
        for d, _, fs in os.walk(base):
            out += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def build():
    """Compile program + benchmark into a classes dir keyed by their
    sources; returns the class path."""
    if not os.path.isdir(os.path.join(MAIN_SRC, "graft")):
        fail(f"no program sources under {MAIN_SRC}; run from a full checkout")
    jars_dir = spark_jars()
    if not os.path.isdir(jars_dir):
        fail(f"no Spark jars at {jars_dir}")
    srcs = scala_sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update("\n".join(sorted(os.listdir(jars_dir))).encode())
    root = build_root()
    classes = os.path.join(root, "classes-" + h.hexdigest()[:16])
    if not os.path.exists(os.path.join(classes, ".ok")):
        os.makedirs(root, exist_ok=True)
        for old in os.listdir(root):
            if old.startswith("classes-"):
                shutil.rmtree(os.path.join(root, old), ignore_errors=True)
        tmp = classes + ".tmp"
        os.makedirs(tmp)
        jars = os.path.join(jars_dir, "*")
        t0 = time.time()
        r = subprocess.run(
            ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", jars,
             "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", jars] + srcs,
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-4000:])
            fail("compilation failed")
        if os.path.isdir(MAIN_RES):
            shutil.copytree(MAIN_RES, tmp, dirs_exist_ok=True)
        open(os.path.join(tmp, ".ok"), "w").close()
        os.rename(tmp, classes)
        print(f"perfbench: compiled {len(srcs)} files in {time.time() - t0:.1f} s",
              file=sys.stderr)
    return classes + os.pathsep + os.path.join(jars_dir, "*")


def cores():
    return len(os.sched_getaffinity(0))


def jvm(cp, args, tag, deadline):
    """Run the benchmark JVM; returns (raw result, launch epoch s, peak RSS MiB)."""
    root = build_root()
    work = os.path.join(root, "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(os.path.join(root, "logs"), exist_ok=True)
    out = os.path.join(work, "result.json")
    # no hsperfdata file in the system temp dir: a run writes only under `root`
    cmd = (["java", "-XX:-UsePerfData"] + JVM_MEMORY + ["-Dspark.ui.enabled=false",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graft.perfbench.Main", "--data", DATA, "--work", work,
              "--out", out, "--cores", str(cores())] + args)
    log = os.path.join(root, "logs", f"{tag}.log")
    with open(log, "w") as lf:
        launched = time.time()
        p = subprocess.Popen(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT)
        status, usage = 0, None
        while True:
            pid, status, usage = os.wait4(p.pid, os.WNOHANG)
            if pid:
                break
            if time.time() > deadline:
                p.kill()
                os.wait4(p.pid, 0)
                fail(f"{tag}: JVM timed out (log: {log})")
            time.sleep(0.05)
        p.returncode = os.waitstatus_to_exitcode(status)
    if p.returncode != 0 or not os.path.exists(out):
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"{tag}: JVM exited with {p.returncode} (log: {log})")
    with open(out) as f:
        raw = json.load(f)
    shutil.move(out, os.path.join(root, "logs", f"{tag}.json"))
    shutil.rmtree(work, ignore_errors=True)
    return raw, launched, usage.ru_maxrss / 1024.0


# ---------------------------------------------------------------- checking

def load_expected():
    with open(EXPECTED) as f:
        return json.load(f)


def check_ops(raw, expected):
    """Failed batch operations: errors, results that differ from the
    recorded expected value, and repeats of a query that fired a different
    number of jobs than its first run."""
    first_jobs = {}
    failed = []
    for op in raw["ops"]:
        exp = expected.get(op["name"], {})
        jobs = op["build_jobs"] + op["action_jobs"]
        first_jobs.setdefault(op["name"], jobs)
        if op["error"]:
            failed.append((op["name"], op["error"]))
        elif (op["rows"], op["sum"]) != (exp.get("rows"), exp.get("sum")):
            failed.append((op["name"], f"checksum {op['rows']}/{op['sum']} != "
                           f"expected {exp.get('rows')}/{exp.get('sum')}"))
        elif jobs != first_jobs[op["name"]]:
            failed.append((op["name"], f"{jobs} jobs, first run fired "
                           f"{first_jobs[op['name']]}"))
    return len(raw["ops"]), failed


def verdict(raw):
    """(attempted, failed, reasons) of one run."""
    if "stream" in raw:
        s = raw["stream"]
        bad = s["failed_events"]
        return s["events"], bad, [("events", f"{bad} missing, duplicated or "
                                   "mis-estimated")] if bad else []
    attempted, reasons = check_ops(raw, load_expected())
    return attempted, len(reasons), reasons


# ----------------------------------------------------------------- metrics

def end_to_end(raw, launched, rss):
    """Every end-to-end metric. Batch workloads count a query as one request
    (its event); the stream counts a tweet as one event and a micro-batch as
    one execution of its query."""
    m = {"setup_s": (raw["setup_end_epoch_ms"] / 1000.0 - launched, "s"),
         "peak_rss_mib": (rss, "MiB")}
    if "stream" in raw:
        s = raw["stream"]
        cycles = s["latency_ms_by_cycle"]
        batch_s = [b["durations_ms"]["triggerExecution"] / 1000.0 for b in s["batches"]]
        m["wall_s"] = (s["wall_s"], "s")
        m["query_p50_s"] = (stats.median(batch_s), "s")
        m["query_p90_s"] = (stats.tail(batch_s, 90)[0], "s")
        # per cycle of the schedule, then the median over the run's cycles,
        # so that one slow burst does not set the run's tail
        m["event_latency_p50_ms"] = (stats.median([stats.median(c) for c in cycles]), "ms")
        m["event_latency_p99_ms"] = (stats.median([stats.tail(c, 99)[0] for c in cycles]), "ms")
        m["drain_events_per_s"] = (s["drain_events_per_s"], "events/s")
    else:
        lat = [op["latency_s"] for op in raw["ops"]]
        m["wall_s"] = (stats.median(raw["passes_s"]), "s")
        m["query_p50_s"] = (stats.median(lat), "s")
        m["query_p90_s"] = (stats.tail(lat, 90)[0], "s")
        m["event_latency_p50_ms"] = (1000.0 * stats.median(lat), "ms")
        m["event_latency_p99_ms"] = (1000.0 * stats.tail(lat, 99)[0], "ms")
        m["drain_events_per_s"] = (len(lat) / sum(lat), "events/s")
    return m


def headline(raw):
    """The number tracing overhead is judged on, per workload."""
    if "stream" in raw:
        return stats.median([x for c in raw["stream"]["latency_ms_by_cycle"] for x in c])
    lat = [op["latency_s"] for op in raw["ops"]]
    return sum(lat) / len(lat)


def per_layer(raw, plain):
    """Every per-layer metric, from the traced run `raw`; `plain` is the
    untraced run of the same seed, for the tracing overhead. Batch layers are
    averaged per query, streaming layers per micro-batch."""
    calls = raw["layers"]["calls"]
    measured = {k: v for k, v in calls.items()
                if k.startswith("op") or k == "stream"}
    stream = raw.get("stream")
    ops = raw.get("ops", [])
    n = len(stream["batches"]) if stream else len(ops)
    n = max(n, 1)

    def total(key):
        return sum(v[key] for v in measured.values())

    if stream:
        t0, t1 = stream["window_epoch_ms"]
    else:
        t0 = raw["setup_end_epoch_ms"]
        t1 = t0 + raw["measured_s"] * 1000.0
    wall_ms = t1 - t0
    busy = stats.covered([tuple(x) for x in raw["layers"]["job_intervals_ms"]],
                         t0, t1)
    m = {}
    # streaming (Pipeline/TrendJobs, from the progress events)
    b = stream["batches"] if stream else []
    dur = lambda key: [x["durations_ms"].get(key, 0) for x in b]  # noqa: E731
    mean = lambda xs: sum(xs) / len(xs) if xs else 0.0  # noqa: E731
    spans = raw.get("spans", [])
    own = stats.self_times(spans)
    batch_self = [own[s["id"]] for s in spans if s["name"] == "streaming.batch"]
    jpb = raw["layers"]["jobs_per_batch"]
    m["streaming.batches"] = (len(b), "count")
    m["streaming.batch_ms_p50"] = (stats.median(dur("triggerExecution")) if b else 0.0, "ms")
    m["streaming.batch_self_ms"] = (mean(batch_self), "ms")
    m["streaming.query_planning_ms"] = (mean(dur("queryPlanning")), "ms")
    m["streaming.add_batch_ms"] = (mean(dur("addBatch")), "ms")
    m["streaming.commit_ms"] = (mean([w + c for w, c in zip(dur("walCommit"),
                                                          dur("commitOffsets"))]), "ms")
    m["streaming.jobs_per_batch"] = (mean([jpb.get(f"stream/{x['id']}", 0) for x in b]), "count")
    m["streaming.rows_per_batch_p50"] = (stats.median([x["rows"] for x in b]) if b else 0, "count")
    m["streaming.backlog_max_events"] = (stream["backlog_max_events"] if stream else 0, "count")
    m["streaming.gen_late_ms_max"] = (stream["gen_late_ms_max"] if stream else 0.0, "ms")
    m["sinks.raw_write_ms"] = (mean([x["raw_write_ms"] for x in b if x["raw_write_ms"]]), "ms")
    m["sinks.cms_write_ms"] = (mean([x["cms_write_ms"] for x in b if x["cms_write_ms"]]), "ms")
    m["functions.cms_reduce_ns"] = (raw["functions"]["cms_reduce_ns"], "ns")
    m["functions.fm_reduce_ns"] = (raw["functions"]["fm_reduce_ns"], "ns")
    # queries (SparkEntry.queries builders versus the final action)
    build_jobs = sum(v["jobs"] for k, v in measured.items() if k.endswith(":build"))
    m["queries.build_s"] = (mean([op["build_s"] for op in ops]), "s")
    m["queries.action_s"] = (mean([op["action_s"] for op in ops]), "s")
    m["queries.build_jobs"] = (build_jobs / n if ops else 0.0, "count")
    # planner, scheduler, executor, shuffle, storage (Spark listeners)
    m["planner.analysis_ms"] = (total("analysis_ms") / n, "ms")
    m["planner.optimization_ms"] = (total("optimization_ms") / n, "ms")
    m["planner.planning_ms"] = (total("planning_ms") / n, "ms")
    m["scheduler.jobs"] = (total("jobs") / n, "count")
    m["scheduler.stages"] = (total("stages") / n, "count")
    m["scheduler.tasks"] = (total("tasks") / n, "count")
    m["scheduler.driver_only_s"] = ((wall_ms - busy) / 1000.0 / n, "s")
    run_s = total("task_run_ms") / 1000.0
    m["executor.task_run_s"] = (run_s / n, "s")
    m["executor.task_cpu_s"] = (total("task_cpu_ns") / 1e9 / n, "s")
    m["executor.gc_s"] = (total("gc_ms") / 1000.0 / n, "s")
    m["executor.utilisation"] = (run_s / (wall_ms / 1000.0 * raw["cores"]), "ratio")
    m["shuffle.write_mib"] = (total("shuffle_bytes") / 2**20 / n, "MiB")
    m["shuffle.records"] = (total("shuffle_records") / n, "count")
    m["shuffle.fetch_wait_s"] = (total("fetch_wait_ms") / 1000.0 / n, "s")
    m["shuffle.spill_mib"] = (total("spill_bytes") / 2**20 / n, "MiB")
    m["storage.held_mib_end"] = (raw["storage_held_bytes"] / 2**20, "MiB")
    m["trace.overhead_frac"] = (headline(raw) / headline(plain) - 1.0, "ratio")
    return m


def report(metrics, attempted, failed, reasons, extra_lines=()):
    for line in extra_lines:
        print(line)
    for k, (v, u) in metrics.items():
        print(f"{k:32s} {v:14.6f} {u}")
    for name, why in reasons[:20]:
        print(f"FAILED {name}: {why}")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    ap.add_argument("--invariance")
    a = ap.parse_args()
    cp = build()
    deadline = time.time() + RUN_LIMIT_S
    if a.record:
        raw, _, _ = jvm(cp, ["--mode", "record"], "record", time.time() + 900)
        bad = {q: v["error"] for q, v in raw.items() if "error" in v}
        if bad:
            fail(f"queries failed: {bad}")
        with open(EXPECTED, "w") as f:
            json.dump({q: {"rows": v["rows"], "sum": v["sum"]} for q, v in raw.items()},
                      f, indent=1, sort_keys=True)
            f.write("\n")
        return
    if a.invariance:
        raw, _, _ = jvm(cp, ["--mode", "invariance", "--queries", a.invariance],
                        "invariance", time.time() + 900)
        print(json.dumps(raw))
        return
    if not a.workload:
        fail("--workload is required")
    args = ["--mode", "run", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds)]
    raw, launched, rss = jvm(cp, args + ["--trace", "0"], a.workload, deadline)
    attempted, failed, reasons = verdict(raw)
    setup = [f"setup: jvm {raw['main_epoch_ms'] / 1000 - launched:.2f} s, "
             f"session {(raw['session_epoch_ms'] - raw['main_epoch_ms']) / 1000:.2f} s, "
             f"warm-up and inputs {(raw['setup_end_epoch_ms'] - raw['session_epoch_ms']) / 1000:.2f} s"]
    if not a.trace:
        report(end_to_end(raw, launched, rss), attempted, failed, reasons, setup)
        return
    traced, _, _ = jvm(cp, args + ["--trace", "1"], a.workload + "-traced", deadline)
    t_attempted, t_failed, t_reasons = verdict(traced)
    selfs = stats.self_by_name(traced["spans"])
    lines = [f"self_ms {k:24s} {v:12.3f}" for k, v in sorted(selfs.items())]
    report(per_layer(traced, raw), attempted + t_attempted, failed + t_failed,
           reasons + t_reasons, lines)


if __name__ == "__main__":
    main()
