#!/usr/bin/env python3
"""graft benchmark: one workload, one run, one JSON result line.

    python3 perfbench/run.py --workload ingest_fanout8 --seed 1 --seconds 12 --trace 0

Run from the root of a graft checkout. The first run builds graft and the
benchmark driver from source with sbt into .bench_build/ (later runs reuse
the build while the sources are unchanged), then launches one JVM that runs
the workload closed-loop for --seconds, checks its outputs and writes a raw
record; this script turns the record into metrics. The last line of stdout
is {"correct", "attempted", "failed", "metrics"}: the end-to-end metrics
with --trace 0, the per-layer metrics with --trace 1. The line before it is
the full result record (configuration, per-tick / per-query detail); it is
also written to .bench_build/results/. See perfbench/README.md.
"""
import argparse
import bisect
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
T_START = time.monotonic()
RUN_LIMIT_S = 170        # a run must end within 180 s
BUILD_RUN_LIMIT_S = 880  # a first run, which builds, may take 900 s

# query_mix queries that must not write: traced runs fail them if their
# jobs report output bytes.
READ_ONLY = {"q05_rollup", "q196_gap_percentiles", "q354_gopher_quality_rules"}

WORKLOADS = {
    "ingest_fanout8": "ingest",
    "query_mix": "query",
}

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
# A fixed, pre-touched heap: its resident size is the same in every run, so
# VmHWM minus the committed heap is the peak of what lives off the heap
# (metaspace, code cache, thread stacks, direct and netty buffers). The
# heap graft uses is measured separately, after each collection; see
# memory_mb().
XMX = "2g"


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---------------------------------------------------------------- build --

def source_files():
    """Every file the build reads from the checkout, sorted."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "project", "build.properties"),
             os.path.join(HERE, "build.sbt")]
    out = []
    for r in roots:
        if os.path.isfile(r):
            out.append(r)
        for d, dirs, files in os.walk(r):
            dirs[:] = [x for x in dirs if x != "target"]
            out.extend(os.path.join(d, f) for f in files)
    return sorted(out)


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile graft and the benchmark code when the sources changed.
    Returns (classpath, source hash, deadline): the monotonic time by which
    the whole run must end, later for a run that compiled."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no graft sources (src/main/scala/graft) next to perfbench/")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    digest = source_hash()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp):
        with open(stamp) as fh:
            if fh.read().strip() == digest:
                with open(cp_file) as fh2:
                    return fh2.read().strip(), digest, T_START + RUN_LIMIT_S
    deadline = T_START + BUILD_RUN_LIMIT_S
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log_path = os.path.join(BUILD, "build.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log,
            stdin=subprocess.DEVNULL, text=True, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=deadline - time.monotonic())
        except subprocess.TimeoutExpired:
            kill(p)
            fail("build timed out")
        log.write(out)
    lines = [ln for ln in out.splitlines() if ".jar" in ln and ":" in ln]
    if p.returncode != 0 or not lines:
        sys.stderr.write(out[-4000:])
        fail(f"build failed (log: {log_path})")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return cp, digest, deadline


def kill(p):
    try:
        os.killpg(p.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    p.wait()


# -------------------------------------------------------------- inputs --

def fixture_dir(sf):
    """The read-only query fixture tables: the directory TESTDATA.md
    documents for this scale factor."""
    d = None
    try:
        with open(os.path.join(ROOT, "TESTDATA.md")) as fh:
            for line in fh:
                cells = [c.strip().strip("`") for c in line.split("|")]
                if len(cells) > 2 and cells[1] == sf:
                    d = cells[2]
    except OSError:
        pass
    if not d or not os.path.isfile(os.path.join(d, "lineitem.parquet")):
        fail(f"query fixture tables for sf{sf} (TESTDATA.md) not found")
    return d.rstrip("/")


def load_golden():
    with open(os.path.join(HERE, "golden.json")) as fh:
        return json.load(fh)


# ----------------------------------------------------------------- jvm --

def nproc():
    """Cores the benchmark may use; the JVM runs local[nproc()] and refuses
    a master with more cores than it sees."""
    return len(os.sched_getaffinity(0))


def run_jvm(cp, workload, seed, seconds, trace, extra, work, deadline):
    record = os.path.join(work, "record.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xms{XMX}", f"-Xmx{XMX}", "-XX:+AlwaysPreTouch",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dderby.system.home={work}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for o in JDK_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main", workload, str(seed), str(seconds),
            str(trace), str(nproc()), work, record] + extra
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=log,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            p.wait(timeout=max(deadline - time.monotonic(), 1))
        except subprocess.TimeoutExpired:
            kill(p)
            fail(f"{workload} run exceeded the time limit")
    if not os.path.exists(record):
        with open(os.path.join(work, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"benchmark JVM exited {p.returncode} without a record")
    with open(record) as fh:
        return json.load(fh)


# ------------------------------------------------------------- helpers --

def med(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """Highest percentile with at least 10 samples beyond it:
    (percentile, value, samples) or None when there are too few."""
    n = len(xs)
    if n < 11:
        return None
    s = sorted(xs)
    k = n - 11                       # s[k] has 10 samples above it
    return {"percentile": round(100.0 * (k + 1) / n, 2), "value": s[k],
            "samples": n}


def union_ms(ivs, lo, hi):
    total, cur = 0.0, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in ivs):
        if e <= s:
            continue
        if cur is None or s > cur[1]:
            if cur:
                total += cur[1] - cur[0]
            cur = [s, e]
        else:
            cur[1] = max(cur[1], e)
    if cur:
        total += cur[1] - cur[0]
    return total


class Spans:
    """In-memory spans (name, start, end, parent, trace id) built from the
    record's boundaries and the traced run's Spark jobs."""

    def __init__(self):
        self.rows = []

    def add(self, name, trace, start, end, parent=-1):
        self.rows.append({"id": len(self.rows), "parent": parent,
                          "name": name, "trace": trace,
                          "start": start, "end": end})
        return len(self.rows) - 1

    def attach_jobs(self, jobs, leaves):
        """Each Spark job becomes a child of the innermost leaf span that
        contains its start (leaves: span ids to consider)."""
        spans = sorted((self.rows[i] for i in leaves), key=lambda s: s["start"])
        starts = [s["start"] for s in spans]
        for j in jobs:
            k = bisect.bisect_right(starts, j[1]) - 1
            if k >= 0 and spans[k]["start"] <= j[1] <= spans[k]["end"]:
                self.add("spark.job", spans[k]["trace"], j[1], j[2],
                         spans[k]["id"])

    def self_ms(self, weight):
        """Self time per span name: each span's duration minus the part of
        it its children cover, times weight(trace id), summed."""
        kids = {}
        for s in self.rows:
            if s["parent"] >= 0:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = {}
        for s in self.rows:
            cov = union_ms(kids.get(s["id"], []), s["start"], s["end"])
            out[s["name"]] = out.get(s["name"], 0.0) + \
                (s["end"] - s["start"] - cov) * weight(s["trace"])
        return out


def job_stats(jobs, windows):
    """Listener totals over jobs that start inside any window, plus the
    union of their intervals clipped to each window."""
    tot = {"jobs": 0, "stages": 0, "tasks": 0, "cpu": 0.0, "gc": 0.0,
           "in": 0.0, "shr": 0.0, "shw": 0.0, "out": 0.0, "job_ms": 0.0,
           "wall": 0.0}
    for lo, hi in windows:
        inside = [j for j in jobs if lo <= j[1] <= hi]
        tot["wall"] += hi - lo
        tot["job_ms"] += union_ms([(j[1], j[2]) for j in inside], lo, hi)
        for j in inside:
            tot["jobs"] += 1
            tot["stages"] += j[3]
            tot["tasks"] += j[4]
            tot["cpu"] += j[5]
            tot["gc"] += j[6]
            tot["in"] += j[7]
            tot["shr"] += j[8]
            tot["shw"] += j[9]
            tot["out"] += j[10]
    return tot


def layer_spark(jobs, batches, windows, ops):
    """Per-operation Spark, driver and streaming metrics of the traced run."""
    t = job_stats(jobs, windows)
    inside = [b for b in batches if any(lo <= b[0] <= hi for lo, hi in windows)]
    n = max(ops, 1)
    return {
        "spark.jobs": t["jobs"] / n, "spark.stages": t["stages"] / n,
        "spark.tasks": t["tasks"] / n, "spark.job_ms": t["job_ms"] / n,
        "driver.gap_ms": (t["wall"] - t["job_ms"]) / n,
        "spark.task_cpu_ms": t["cpu"] / n, "spark.gc_ms": t["gc"] / n,
        "spark.input_bytes": t["in"] / n,
        "spark.shuffle_read_bytes": t["shr"] / n,
        "spark.shuffle_write_bytes": t["shw"] / n,
        "spark.output_bytes": t["out"] / n,
        "streaming.batches": len(inside) / n,
        "streaming.trigger_ms": sum(b[1] for b in inside) / n,
        "streaming.add_batch_ms": sum(b[2] for b in inside) / n,
        "streaming.overhead_ms": sum(b[1] - b[2] for b in inside) / n,
    }


# ------------------------------------------------------------- ingest --

def ingest_result(rec, trace):
    targets = len(rec["targets"])
    states = rec["states_per_tick"]
    timed = [t for t in rec["ticks"] if t["phase"] == "timed"]
    ok = [t for t in timed if t["fetch_ok"] and len(t["appends"]) == targets
          and all(a[2] for a in t["appends"])]
    lat = [t["appends"][-1][1] - t["fetch_start"] for t in ok]
    span_s = (max(t["appends"][-1][1] for t in ok) -
              min(t["fetch_start"] for t in ok)) / 1000.0 if ok else 0.0
    fetch_ok = [t for t in timed if t["fetch_ok"]]
    appends = [a for t in timed for a in t["appends"]]
    checks = rec.get("checks", [])
    bad_checks = [c for c in checks if not (
        c["schema_ok"] and c["checksum_ok"] and c["rows"] == c["expected_rows"]
        and c["batches"] == c["ticks"] == c["distinct_batches"])]
    attempted = len(timed) + len(fetch_ok) * targets
    failed = (len(timed) - len(fetch_ok)) + \
        (len(fetch_ok) * targets - sum(1 for a in appends if a[2])) + \
        len(bad_checks)
    correct = bool(checks) and not bad_checks and len(ok) == len(timed) > 0
    rows_per_s = len(ok) * states / span_s if span_s else 0.0
    e2e = {
        "throughput_per_s": (rows_per_s, "1/s"),
        "latency_ms": (med(lat), "ms"),
    }
    detail = {"ticks_timed": len(timed), "ticks_complete": len(ok),
              "tick_p50_ms": med(lat), "tick_tail": tail(lat),
              "ingest_rows_per_s": rows_per_s, "checks": checks}
    layers = {}
    if trace:
        fetch = [t["fetch_end"] - t["fetch_start"] for t in fetch_ok]
        parse = [t["appends"][0][0] - t["fetch_end"] for t in ok]
        fan = [t["appends"][-1][1] - t["appends"][0][0] for t in ok]
        root_ticks = [t for t in rec["ticks"] if t["fetch_ok"]]
        body_bytes = sum(t["bytes"] for t in root_ticks)
        files = rec["sink_files"]
        sp = Spans()
        leaves = []
        for t in ok:
            tid = f"tick-{rec['ticks'].index(t)}"
            root = sp.add("tick", tid, t["fetch_start"], t["appends"][-1][1])
            sp.add("fetch", tid, t["fetch_start"], t["fetch_end"], root)
            leaves.append(sp.add("parse", tid, t["fetch_end"], t["appends"][0][0], root))
            fan_id = sp.add("fanout", tid, t["appends"][0][0], t["appends"][-1][1], root)
            for a in t["appends"]:
                leaves.append(sp.add("append", tid, a[0], a[1], fan_id))
        sp.attach_jobs(rec.get("jobs", []), leaves)
        layers.update(layer_spark(rec.get("jobs", []), rec.get("batches", []),
                                  [(t["fetch_start"], t["appends"][-1][1]) for t in ok],
                                  len(ok)))
        layers.update({
            "sources.fetch_ms": med(fetch),
            "sources.fetch_bytes": med([t["bytes"] for t in fetch_ok]),
            "sources.fetch_failures": len(timed) - len(fetch_ok),
            "sources.parse_ms": med(parse),
            "sink.append_ms": med([a[1] - a[0] for a in appends]),
            "sink.fanout_ms": med(fan),
            "sink.appends": len(appends),
            "sink.append_failures": sum(1 for a in appends if not a[2]),
            "sink.bytes_written": files["bytes"] / max(len(root_ticks), 1),
            "sink.files_written": files["files"] / max(len(root_ticks), 1),
            "sink.write_amp": files["bytes"] / body_bytes if body_bytes else 0.0,
            "tick.residual_ms": med(lat) - (med(fetch) + med(parse) + med(fan)),
            "operators.build_ms": 0.0, "operators.exec_ms": 0.0,
        })
        layers.update(self_metrics(sp, lambda _: 1.0 / len(ok)))
        layers["trace.latency_ms"] = e2e["latency_ms"][0]
        layers["trace.throughput_per_s"] = e2e["throughput_per_s"][0]
        detail["spans"] = sp
    return correct, attempted, failed, e2e, layers, detail


def self_metrics(sp, weight):
    """Self time per operation of the spans that have children: the
    driver-side part of parse, append, build and exec, and job time."""
    st = sp.self_ms(weight)
    return {f"self.{nm.replace('spark.job', 'spark_job')}_ms": st.get(nm, 0.0)
            for nm in ["parse", "append", "build", "exec", "spark.job"]}


# -------------------------------------------------------------- query --

def oracle_check():
    """tools/check.py, the corpus's oracle comparison: its canon() and
    TABLES are the benchmark's canonical form and fixture tables."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import check
    return check


def canon_hash(cols, rows):
    h = hashlib.sha256()
    h.update("\x00".join(cols).encode())
    for r in rows:
        h.update(b"\n" + r.encode())
    return h.hexdigest()


def result_hashes(result_dir, names):
    """Canonical hash and row count of each verification-pass result."""
    import duckdb
    canon = oracle_check().canon
    con = duckdb.connect()
    out = {}
    for n in names:
        path = os.path.join(result_dir, n)
        if not os.path.isdir(path):
            out[n] = None
            continue
        res = con.sql(f"SELECT * FROM read_parquet('{path}/*.parquet')")
        cols, rows = canon(res.fetchall(), list(res.columns))
        out[n] = {"sha256": canon_hash(cols, rows), "rows": len(rows)}
    return out


def query_result(rec, trace, golden, hashes):
    runs = rec["runs"]
    for r in runs:                   # a query that threw has no build split
        if r["built"] is None:
            r["built"] = r["end"]
    names = rec["queries"]
    by_q = {n: [r for r in runs if r["query"] == n] for n in names}
    wall = {n: med([r["end"] - r["start"] for r in rs]) for n, rs in by_q.items()}
    bad_hash = [n for n in names if hashes.get(n) is None or
                hashes[n]["sha256"] != golden.get(n, {}).get("sha256")]
    failed = sum(1 for r in runs if not r["ok"]) + len(bad_hash)
    by_pass = {}
    for r in runs:
        by_pass.setdefault(r["pass"], []).append(r)
    # A pass runs every query once; its wall time is first start to last end.
    pass_s = [(max(r["end"] for r in rs) - min(r["start"] for r in rs)) / 1000.0
              for _, rs in sorted(by_pass.items())]
    query_pass_s = sum(wall.values()) / 1000.0
    geo = math.exp(sum(math.log(max(w, 1e-3)) for w in wall.values()) / len(wall))
    e2e = {
        "throughput_per_s": (len(names) / query_pass_s, "1/s"),
        "latency_ms": (geo, "ms"),
    }
    detail = {"passes": len(pass_s), "pass_s": pass_s, "executions": len(runs),
              "query_pass_s": query_pass_s,
              "query_geomean_s": geo / 1000.0,
              "query_median_ms": wall,
              "query_wall_ms": {n: [r["end"] - r["start"] for r in rs]
                                for n, rs in by_q.items()},
              "verify_pass_ms": rec["verify_pass_ms"],
              "hash_mismatch": bad_hash}
    layers = {}
    if trace:
        sp = Spans()
        leaves = []
        for r in runs:
            tid = f"{r['query']}#{r['pass']}"
            root = sp.add("query", tid, r["start"], r["end"])
            leaves.append(sp.add("build", tid, r["start"], r["built"], root))
            leaves.append(sp.add("exec", tid, r["built"], r["end"], root))
        sp.attach_jobs(rec.get("jobs", []), leaves)
        # Per pass = one execution of each query: per-query means, summed.
        for rs in by_q.values():
            one = layer_spark(rec.get("jobs", []), rec.get("batches", []),
                              [(r["start"], r["end"]) for r in rs], len(rs))
            for k, v in one.items():
                layers[k] = layers.get(k, 0.0) + v
        layers.update({
            "sources.fetch_ms": 0.0, "sources.fetch_bytes": 0.0,
            "sources.fetch_failures": 0, "sources.parse_ms": 0.0,
            "sink.append_ms": 0.0, "sink.fanout_ms": 0.0, "sink.appends": 0,
            "sink.append_failures": 0, "sink.bytes_written": 0.0,
            "sink.files_written": 0.0, "sink.write_amp": 0.0,
            "tick.residual_ms": 0.0,
            "operators.build_ms": sum(med([r["built"] - r["start"] for r in rs])
                                      for rs in by_q.values()),
            "operators.exec_ms": sum(med([r["end"] - r["built"] for r in rs])
                                     for rs in by_q.values()),
        })
        layers.update(self_metrics(
            sp, lambda tid: 1.0 / len(by_q[tid.split("#")[0]])))
        writes = [r for r in runs if r["query"] in READ_ONLY and
                  job_stats(rec.get("jobs", []), [(r["start"], r["end"])])["out"] > 0]
        failed += len(writes)
        detail["read_only_writes"] = sorted({r["query"] for r in writes})
        layers["trace.latency_ms"] = e2e["latency_ms"][0]
        layers["trace.throughput_per_s"] = e2e["throughput_per_s"][0]
        detail["spans"] = sp
    correct = failed == 0 and len(runs) > 0
    return correct, len(runs) + len(names), failed, e2e, layers, detail


# --------------------------------------------------------------- main --

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    cp, digest, deadline = build()
    steal0 = cpu_steal_s()
    work = os.path.join(BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    kind = WORKLOADS[a.workload]
    extra, golden = [], None
    if kind == "query":
        g = load_golden()
        golden = g["queries"]
        result_dir = os.path.join(work, "results")
        extra = [fixture_dir(g["sf"]), result_dir] + \
            [f"{n}={v['rows']}" for n, v in sorted(golden.items())]
    # Start from a clean page cache: dirty pages a build or an earlier run
    # left would otherwise be written back while this run is timed.
    os.sync()
    rec = run_jvm(cp, a.workload, a.seed, a.seconds, a.trace, extra, work,
                  deadline)
    if "error" in rec:
        sys.stderr.write(rec["error"] + "\n")
        fail(f"{a.workload} run failed")
    if kind == "ingest":
        res = ingest_result(rec, a.trace)
    else:
        res = query_result(rec, a.trace, golden,
                           result_hashes(result_dir, rec["queries"]))
    correct, attempted, failed, e2e, layers, detail = res
    setup_s = med(rec["setup_rounds_ms"]) / 1000.0
    mem = memory_mb(rec)
    if a.trace:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            units = {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}
        metrics = {k: {"value": v, "unit": units[k]} for k, v in layers.items()}
        spans = detail.pop("spans")
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        metrics["setup_s"] = {"value": setup_s, "unit": "s"}
        metrics["peak_mem_mb"] = {"value": mem["peak_mem_mb"], "unit": "MB"}
        spans = None
    full = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "nproc": nproc(),
        "master": rec.get("master"),
        "default_parallelism": rec.get("default_parallelism"),
        "xmx": XMX, "xmx_bytes": rec.get("xmx_bytes"),
        "commit": commit(), "source_sha256": digest,
        "sink_root": rec.get("sink_root"), "sf_dir": rec.get("sf_dir"),
        "setup_rounds_ms": rec["setup_rounds_ms"],
        "process_to_first_timed_s":
            (rec["first_timed_ms"] - rec["process_start_ms"]) / 1000.0,
        "cpu_steal_s": cpu_steal_s() - steal0,
        "memory_mb": mem, "end_to_end": {k: v for k, (v, _) in e2e.items()},
        "detail": detail, "correct": correct, "attempted": attempted,
        "failed": failed,
    }
    out_dir = os.path.join(BUILD, "results")
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}")
    with open(stem + ".json", "w") as fh:
        json.dump(full, fh, indent=1)
    if spans is not None:
        with open(stem + "-spans.jsonl", "w") as fh:
            for s in spans.rows:
                fh.write(json.dumps(s) + "\n")
    # The sink targets and query results are checked; drop them so that the
    # next run does not share the disk with their write-back.
    shutil.rmtree(work, ignore_errors=True)
    os.sync()
    print(json.dumps(full))
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


def memory_mb(rec):
    """peak_mem_mb: the peak resident size off the heap (VmHWM minus the
    fixed, pre-touched heap) plus the peak heap occupancy after a
    collection, so that it moves with the memory graft's work holds rather
    than with the heap the JVM reserved. The parts are kept beside it."""
    mb = 1024.0 * 1024.0
    rss = rec["peak_rss_kb"] * 1024.0
    off = rss - rec["heap_committed_bytes"]
    heap = rec["heap_after_gc_peak_bytes"]
    return {"peak_mem_mb": (off + heap) / mb, "vm_hwm_mb": rss / mb,
            "off_heap_peak_mb": off / mb, "heap_after_gc_peak_mb": heap / mb,
            "heap_committed_mb": rec["heap_committed_bytes"] / mb,
            "gc_count": rec["gc_count"]}


def cpu_steal_s():
    """Seconds of CPU time the hypervisor has taken from the machine
    (the steal column of /proc/stat; 0 where unavailable)."""
    try:
        with open("/proc/stat") as fh:
            fields = fh.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def commit():
    """The checkout's git commit when it is a repository, else null (the
    source hash identifies the code either way)."""
    try:
        env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(ROOT))
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, env=env,
                             capture_output=True, text=True, timeout=10)
        return out.stdout.strip() or None if out.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


if __name__ == "__main__":
    main()
