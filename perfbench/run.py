#!/usr/bin/env python3
"""perfbench — the repository's benchmark. See perfbench/README.md.

  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. It builds graft and the harness from
source (cached by source hash), generates the seed's inputs (cached per
seed), runs the workload, checks every output, and prints as its last
stdout line one JSON object: {"correct", "attempted", "failed", "metrics"}.
`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer ones.
The line before it stamps the run conditions. Everything the run writes
stays under `.perfbench/` in the checkout.
"""
import argparse
import datetime as dt
import hashlib
import importlib.util
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402

# Each batch workload is a closed loop over these queries, in this order.
WORKLOADS = {
    "graph_loops": {
        "kind": "batch", "sf": 0.01, "tables": ["events"],
        "queries": ["g03", "g06", "g31"]},
    "scan_agg": {
        "kind": "batch", "sf": 0.01,
        "tables": ["customer", "lineitem", "nation", "orders"],
        "queries": ["q01", "q10", "a03", "w13", "w14", "p06", "m06"]},
    "stream_ingest": {
        "kind": "stream", "sf": 0.01, "tables": ["events"],
        # offered events/s, each held for an equal share of the run
        "rates": [2000, 4000, 8000]},
}

LAYERS = ["graph", "operators", "plans", "ml", "sinks"]
LAYER_FIELDS = ["build_s", "build_jobs", "exec_s", "plan_s", "jobs", "tasks",
                "failed_tasks", "job_busy_s", "driver_gap_s", "task_cpu_s",
                "gc_s", "scan_mb", "shuffle_write_mb", "shuffle_read_mb",
                "spill_mb", "write_mb"]
STREAM_FIELDS = ["streaming.batches", "streaming.batch_p50_s",
                 "streaming.batch_p99_s", "streaming.addbatch_s",
                 "streaming.processed_eps", "streaming.state_rows",
                 "streaming.state_mb", "streaming.lat_p99_s",
                 "sources.list_s", "sources.backlog_files_max",
                 "sinks.foreachbatch_s", "loadgen.lag_p99_s"]
OTHER_FIELDS = ["caches.cached_mb_peak", "caches.checkpoint_blocks",
                "caches.released", "trace.overhead_s", "trace.jobs",
                "trace.jobs_unattributed"]
END_TO_END = {"setup_s": "s", "pass_s": "s", "query_p50_s": "s",
              "query_p90_s": "s", "throughput_per_s": "1/s",
              "cache_peak_mb": "MB"}
SETUPS = 3          # set-ups per run; setup_s is their median
HEAP = "3g"
JVM_TIMEOUT_S = 170
MB = 1024.0 * 1024.0

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def source_hash(root):
    h = hashlib.sha256()
    tops = [os.path.join(root, "src", "main"), os.path.join(HERE, "src"),
            os.path.join(root, "build.sbt"), os.path.join(HERE, "build.sbt"),
            os.path.join(root, "project", "build.properties"),
            os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(root, work):
    """Compile graft and the harness with sbt, cached by the hash of every
    source and build file. Class directories are packed into jars so the
    JVM can keep a class-data-sharing archive of them (see jvm())."""
    stamp = source_hash(root)
    bdir = os.path.join(work, "build")
    cp_file = os.path.join(bdir, f"{stamp}.classpath")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read().strip(), stamp
    shutil.rmtree(bdir, ignore_errors=True)
    os.makedirs(bdir)
    log("building graft and the harness (sbt)")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    with open(os.path.join(bdir, "build.log"), "w") as out:
        r = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true",
             f"-Djava.io.tmpdir={tmp}", "-J-XX:-UsePerfData", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, stdout=subprocess.PIPE, stderr=out, text=True,
            timeout=850, env=dict(os.environ, TMPDIR=tmp))
        out.write(r.stdout)
    lines = [ln for ln in r.stdout.splitlines() if ln.strip()]
    if r.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        raise BenchError(f"build failed; see {bdir}/build.log")
    entries = []
    for i, e in enumerate(lines[-1].strip().split(os.pathsep)):
        if os.path.isdir(e):
            base = os.path.join(bdir, f"classes-{i}")
            shutil.make_archive(base, "zip", e)
            e = base + ".jar"
            os.replace(base + ".zip", e)
        entries.append(e)
    cp = os.pathsep.join(entries)
    with open(cp_file, "w") as f:
        f.write(cp)
    return cp, stamp


def git_sha(root):
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, text=True,
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                           timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def jvm(cp, stamp, work, run_dir, args):
    """The harness command line. The first run of a build records the
    classes it loads into a class-data-sharing archive; later runs map it,
    which halves JVM and Spark start-up and leaves every timed region as
    it was."""
    archive = os.path.join(work, "build", f"{stamp}.jsa")
    share = (f"-XX:SharedArchiveFile={archive}" if os.path.exists(archive)
             else f"-XX:ArchiveClassesAtExit={archive}")
    cmd = ["java", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData", share,
           f"-Djava.io.tmpdir={run_dir}/tmp", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Harness"]
    cmd += [f"{k}={v}" for k, v in args.items()]
    os.makedirs(f"{run_dir}/tmp", exist_ok=True)
    return cmd


def harness_env(run_dir):
    """Scratch space must stay in the checkout: spark.local.dir is set by
    the harness, and SPARK_LOCAL_DIRS would override it."""
    env = dict(os.environ, TMPDIR=f"{run_dir}/tmp")
    env.pop("SPARK_LOCAL_DIRS", None)
    return env


def run_process(cmd, run_dir, timeout):
    t0 = time.time()
    log_path = f"{run_dir}/jvm.log"
    with open(log_path, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                             env=harness_env(run_dir))
        try:
            rc = p.wait(timeout=timeout)
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0:
        raise BenchError(f"{cmd[0]} exited {rc}; see {log_path}")
    log(f"harness ran {time.time() - t0:.1f} s")


# ---------------------------------------------------------------- stats

def median(xs):
    return statistics.median(xs) if xs else 0.0


def pct(xs, p):
    """The p-th percentile, interpolated between the two nearest samples."""
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=100, method="inclusive")[p - 1]


def union_len(intervals):
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


# ---------------------------------------------------------- correctness

def load_check_oracle(root):
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(root, "tools", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def verify(root, data, verify_dir, verified, cache_path):
    """Return {query: None | reason} for the verification dump.

    Oracle queries: the canonical rows' digest must be one the DuckDB oracle
    accepted for this seed before; an unknown digest is checked against the
    oracle through tools/check_oracle.py (--alt for the xxhash-id queries)
    and cached when it passes. Queries without an oracle must return rows.
    """
    import duckdb
    co = load_check_oracle(root)
    with open(f"{verify_dir}/oracle_all.json") as f:
        oracle = json.load(f)
    with open(f"{verify_dir}/oracle_alt_all.json") as f:
        alt = json.load(f)
    cache = {}
    if os.path.exists(cache_path):
        with open(cache_path) as f:
            cache = json.load(f)
    con = duckdb.connect()
    verdict, digests, pending = {}, {}, {}
    for v in verified:
        q = v["query"]
        if v["error"]:
            verdict[q] = f"error: {v['error'][:200]}"
            continue
        rel = con.sql(f"SELECT * FROM '{verify_dir}/{q}/*.parquet'")
        rows, cols = rel.fetchall(), rel.columns
        if q not in oracle:
            verdict[q] = None if rows else "no rows"
            continue
        d = hashlib.sha256(repr(co.canon(rows, cols)).encode()).hexdigest()
        digests[q] = d
        if d in cache.get(q, []):
            verdict[q] = None
        else:
            pending[q] = oracle[q]
    if pending:
        log(f"oracle check for {len(pending)} queries")
        with open(f"{verify_dir}/oracle_sql.json", "w") as f:
            json.dump(pending, f)
        with open(f"{verify_dir}/oracle_sql_alt.json", "w") as f:
            json.dump({k: v for k, v in alt.items() if k in pending}, f)
        out = f"{verify_dir}/oracle_result.json"
        with open(f"{verify_dir}/oracle.log", "w") as lg:
            subprocess.run([sys.executable,
                            os.path.join(root, "tools", "check_oracle.py"),
                            data, verify_dir, "--alt", "--timeout", "60",
                            "--json", out],
                           stdout=lg, stderr=subprocess.STDOUT, timeout=600)
        with open(out) as f:
            res = json.load(f)["queries"]
        for q in pending:
            status = res.get(q, {}).get("status", "missing")
            if status.startswith("pass"):
                verdict[q] = None
                cache.setdefault(q, []).append(digests[q])
            else:
                verdict[q] = f"oracle {status}: {res.get(q, {}).get('reason')}"
        tmp = cache_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(cache, f)
        os.replace(tmp, cache_path)
    return verdict


# ----------------------------------------------------------------- batch

def run_batch(args, w, root, work, run_dir, cp, stamp, data):
    verify_dir = f"{run_dir}/verify"
    out = f"{run_dir}/result.json"
    run_process(jvm(cp, stamp, work, run_dir, {
        "mode": "batch", "cores": os.cpu_count(), "work": run_dir,
        "data": data, "tables": ",".join(w["tables"]),
        "queries": ",".join(w["queries"]), "seconds": args.seconds,
        "trace": args.trace, "setups": SETUPS, "verify_dir": verify_dir,
        "out": out}), run_dir, JVM_TIMEOUT_S)
    with open(out) as f:
        res = json.load(f)
    read = {os.path.basename(p).split(".")[0]
            for v in res["verify"] for p in v["input_files"]}
    if not read <= set(w["tables"]):
        raise BenchError(f"queries read {sorted(read)}, set-up touches "
                         f"{w['tables']}")
    cache = os.path.join(work, "expected",
                         f"{args.workload}-sf{w['sf']}-seed{args.seed}.json")
    os.makedirs(os.path.dirname(cache), exist_ok=True)
    wrong = {q: r for q, r in verify(root, data, verify_dir, res["verify"],
                                     cache).items() if r}
    for q, r in wrong.items():
        log(f"WRONG {q}: {r}")
    passes = res["passes"] + (res["traced_passes"] or [])
    execs = [e for p in passes for e in p["queries"]]
    failed = sum(1 for e in execs if e["error"] or e["query"] in wrong)
    for e in execs:
        if e["error"]:
            log(f"FAILED {e['query']}: {e['error'][:300]}")
    if args.trace:
        metrics = batch_layers(res)
        with open(f"{run_dir}/spans.json", "w") as fh:
            json.dump(batch_spans(res), fh)
    else:
        metrics = batch_end_to_end(res)
    return res, len(execs), failed, not wrong and failed == 0, metrics


def pass_times(passes):
    return [sum(e["wall_s"] for e in p["queries"]) for p in passes]


def batch_end_to_end(res):
    execs = [e for p in res["passes"] for e in p["queries"]]
    walls = [e["wall_s"] for e in execs]
    return {
        "setup_s": median(res["setup_s"]),
        "pass_s": median(pass_times(res["passes"])),
        "query_p50_s": pct(walls, 50),
        "query_p90_s": pct(walls, 90),
        "throughput_per_s": len(walls) / sum(walls),
        "cache_peak_mb": max(e["cached_bytes"] for e in execs) / MB,
        "_executions": len(walls),
    }


def span_tree(spans):
    """Fill in each span's id and self time: its duration minus the part of
    it that its child spans cover."""
    kids = {}
    for i, sp in enumerate(spans):
        sp["id"] = i
        kids.setdefault(sp["parent"], []).append(sp)
    for sp in spans:
        a, b = sp["start_ms"], sp["end_ms"]
        cover = union_len([(max(a, c["start_ms"]), min(b, c["end_ms"]))
                           for c in kids.get(sp["id"], [])
                           if min(b, c["end_ms"]) > max(a, c["start_ms"])])
        sp["self_s"] = (b - a - cover) / 1e3
    return spans


def batch_spans(res):
    """run -> pass -> query -> {build, exec} -> job -> stage."""
    passes, tr = res["traced_passes"], res["trace"]
    spans = []

    def add(name, parent, a, b, **kw):
        spans.append(dict(name=name, parent=parent, start_ms=a, end_ms=b,
                          **kw))
        return len(spans) - 1

    run = add("run", None, passes[0]["start_ms"], passes[-1]["end_ms"])
    first_job = {}
    for j in sorted(tr["jobs"], key=lambda j: j["job"]):
        for st in j["stages"]:
            first_job.setdefault(st, j["job"])
    job_span = {}
    for p in passes:
        ps = add("pass", run, p["start_ms"], p["end_ms"])
        for e in p["queries"]:
            q = add("query", ps, e["start_ms"], e["end_ms"],
                    query=e["query"], layer=e["layer"])
            b = add("build", q, e["start_ms"], e["build_end_ms"])
            x = add("exec", q, e["build_end_ms"], e["end_ms"])
            for j in tr["jobs"]:
                if e["start_ms"] <= j["start_ms"] <= e["end_ms"]:
                    job_span[j["job"]] = add(
                        "job", b if j["start_ms"] <= e["build_end_ms"] else x,
                        j["start_ms"], j["end_ms"], job=j["job"])
    for st in tr["stages"]:
        parent = job_span.get(first_job.get(st["stage"]))
        if parent is not None:
            add("stage", parent, st["submit_ms"], st["end_ms"],
                stage=st["stage"], tasks=st["tasks"])
    return span_tree(spans)


def batch_layers(res):
    """Per-layer metrics from the traced passes, averaged per pass.

    Jobs, stages and Catalyst phases are attributed to the query whose
    wall interval contains their start; a job that starts before the
    query's plan is built is a build job."""
    passes = res["traced_passes"]
    tr = res["trace"]
    if not passes:
        raise BenchError("no traced pass ran")
    m = {f"{layer}.{f}": 0.0 for layer in LAYERS for f in LAYER_FIELDS}
    spans = [e for p in passes for e in p["queries"]]

    def owner(t):
        for e in spans:
            if e["start_ms"] <= t <= e["end_ms"]:
                return e
        return None

    jobs_in = {}
    seen = unattributed = 0
    for j in tr["jobs"]:
        if not any(p["start_ms"] <= j["start_ms"] <= p["end_ms"]
                   for p in passes):
            continue
        seen += 1
        e = owner(j["start_ms"])
        if e is None:
            unattributed += 1
            continue
        jobs_in.setdefault(id(e), []).append(j)
        L = e["layer"]
        m[f"{L}.jobs"] += 1
        if j["start_ms"] <= e["build_end_ms"]:
            m[f"{L}.build_jobs"] += 1
    for s in tr["stages"]:
        e = owner(s["submit_ms"])
        if e is None:
            continue
        L = e["layer"]
        m[f"{L}.tasks"] += s["tasks"]
        m[f"{L}.failed_tasks"] += s["failed_tasks"]
        m[f"{L}.task_cpu_s"] += s["cpu_ns"] / 1e9
        m[f"{L}.gc_s"] += s["gc_ms"] / 1e3
        m[f"{L}.scan_mb"] += s["input_bytes"] / MB
        m[f"{L}.shuffle_write_mb"] += s["shuffle_write_bytes"] / MB
        m[f"{L}.shuffle_read_mb"] += s["shuffle_read_bytes"] / MB
        m[f"{L}.spill_mb"] += s["spill_bytes"] / MB
        m[f"{L}.write_mb"] += s["output_bytes"] / MB
    for ph in tr["phases"]:
        e = owner(ph["start_ms"])
        if e is not None:
            m[f"{e['layer']}.plan_s"] += (ph["end_ms"] - ph["start_ms"]) / 1e3
    for e in spans:
        L = e["layer"]
        m[f"{L}.build_s"] += e["build_s"]
        m[f"{L}.exec_s"] += e["exec_s"]
        busy = union_len([(max(j["start_ms"], e["start_ms"]),
                           min(j["end_ms"], e["end_ms"]))
                          for j in jobs_in.get(id(e), [])]) / 1e3
        m[f"{L}.job_busy_s"] += busy
        m[f"{L}.driver_gap_s"] += max(0.0, e["wall_s"] - busy)
    n = len(passes)
    m = {k: v / n for k, v in m.items()}
    m["caches.cached_mb_peak"] = max(e["cached_bytes"] for e in spans) / MB
    m["caches.checkpoint_blocks"] = max(e["checkpointed_rdds"] for e in spans)
    m["caches.released"] = sum(e["released"] for e in spans) / n
    m["trace.overhead_s"] = (median(pass_times(passes))
                             - median(pass_times(res["passes"])))
    m["trace.jobs"] = seen / n
    m["trace.jobs_unattributed"] = unattributed / n
    for k in STREAM_FIELDS:
        m[k] = 0.0
    return m


# ---------------------------------------------------------------- stream

def wait_for(path, proc, timeout):
    deadline = time.time() + timeout
    while not os.path.exists(path):
        if proc.poll() is not None:
            raise BenchError(f"harness exited {proc.returncode} before {path}")
        if time.time() > deadline:
            raise BenchError(f"timed out waiting for {path}")
        time.sleep(0.05)


def run_stream(args, w, root, work, run_dir, cp, stamp, data):
    rates = w["rates"]
    step = max(1, int(round(args.seconds / len(rates))))
    f = {k: f"{run_dir}/{k}" for k in
         ["ready", "stop", "arrivals", "inbox", "summary.json",
          "result.json"]}
    cmd = jvm(cp, stamp, work, run_dir, {
        "mode": "stream", "cores": max(1, os.cpu_count() - 1),
        "work": run_dir, "data": data, "tables": "events",
        "trace": args.trace, "setups": SETUPS, "inbox": f["inbox"],
        "ready": f["ready"], "stop": f["stop"], "arrivals": f["arrivals"],
        "out": f["result.json"], "max_wait_ms": 120000, "drain_ms": 30000})
    procs = []
    try:
        with open(f"{run_dir}/jvm.log", "w") as out:
            harness = subprocess.Popen(cmd, stdout=out,
                                       stderr=subprocess.STDOUT,
                                       env=harness_env(run_dir))
            procs.append(harness)
            wait_for(f["ready"], harness, 120)
            gen_cmd = [sys.executable, os.path.join(HERE, "loadgen.py"),
                       f"{data}/events.parquet", f["inbox"], f["summary.json"],
                       str(step)] + [str(r) for r in rates]
            loadgen = subprocess.Popen(gen_cmd, env=harness_env(run_dir))
            procs.append(loadgen)
            if loadgen.wait(timeout=step * len(rates) + 30) != 0:
                raise BenchError("load generator failed")
            with open(f["summary.json"]) as fh:
                summary = json.load(fh)
            with open(f["stop"] + ".tmp", "w") as fh:
                fh.write(str(summary["events"]))
            os.replace(f["stop"] + ".tmp", f["stop"])
            if harness.wait(timeout=90) != 0:
                raise BenchError(f"harness exited {harness.returncode}")
    finally:
        for p in procs:
            if p.poll() is None:
                p.kill()
            p.wait()
    with open(f["result.json"]) as fh:
        res = json.load(fh)
    arrivals = []
    with open(f["arrivals"]) as fh:
        for line in fh:
            a = line.split(",")
            arrivals.append((int(a[0]), int(a[1]) / 1e6, int(a[2]) / 1e6))
    return stream_metrics(args, res, summary, arrivals, rates,
                          f"{run_dir}/spans.json")


def epoch_s(stamp):
    return dt.datetime.fromisoformat(stamp.replace("Z", "+00:00")).timestamp()


def stream_spans(files, rates, sink):
    """run -> rate -> micro-batch; each batch carries its progress
    report's phase durations."""
    spans = [dict(name="run", parent=None, start_ms=files[0]["start"] * 1e3,
                  end_ms=files[-1]["renamed"] * 1e3 + 1e3)]
    for r in rates:
        fs = [fl for fl in files if fl["rate"] == r]
        a, b = fs[0]["renamed"] * 1e3, fs[-1]["renamed"] * 1e3 + 1e3
        spans.append(dict(name="rate", parent=0, start_ms=a, end_ms=b,
                          rate=r))
        parent = len(spans) - 1
        for p in sink:
            t = epoch_s(p["timestamp"]) * 1e3
            if a <= t < b:
                d = p["durationMs"]
                spans.append(dict(
                    name="micro-batch", parent=parent, start_ms=t,
                    end_ms=t + d.get("triggerExecution", 0),
                    batch=p["batchId"], rows=p["numInputRows"],
                    **{k: d.get(k, 0) / 1e3 for k in [
                        "latestOffset", "getBatch", "addBatch",
                        "walCommit"]}))
    return span_tree(spans)


def stream_metrics(args, res, summary, arrivals, rates, spans_path):
    files = summary["files"]
    total = summary["events"]
    first = {}
    dup = 0
    for eid, due, at in arrivals:
        if eid in first:
            dup += 1
        else:
            first[eid] = (due, at)
    missing = sum(1 for i in range(total) if i not in first)
    failed = missing + dup + sum(1 for i in first if not 0 <= i < total)

    def lat(fs):
        return [first[i][1] - first[i][0] for fl in fs
                for i in range(fl["first_id"], fl["first_id"] + fl["count"])
                if i in first]

    done_at = {}  # file index -> time its last event arrived
    for k, fl in enumerate(files):
        ids = range(fl["first_id"], fl["first_id"] + fl["count"])
        done_at[k] = max((first[i][1] for i in ids if i in first),
                         default=float("inf"))

    def backlog(t):
        return sum(1 for k, fl in enumerate(files)
                   if fl["renamed"] <= t and done_at[k] > t)

    steps = {}
    for k, fl in enumerate(files):
        steps.setdefault(fl["rate"], []).append(k)
    sustained = None
    for r in rates:
        fs = [files[k] for k in steps[r]]
        lr = lat(fs)
        end = max(fl["renamed"] for fl in fs)
        ok = bool(lr) and pct(lr, 99) <= 10.0 and backlog(end) <= 2 and \
            len(lr) == sum(fl["count"] for fl in fs)
        if ok:
            ats = [first[i][1] for fl in fs
                   for i in range(fl["first_id"], fl["first_id"] + fl["count"])]
            sustained = len(ats) / (max(ats) - min(ats) + 1.0)
    mid = [files[k] for k in steps[rates[len(rates) // 2]]]
    mid_lat = lat(mid)
    # a file's events reach the sink in the trigger after its rename; the
    # batches from the middle rate on are past the pipeline's warm-up
    warm = (mid[0]["renamed"], files[-1]["renamed"] + 1.0)

    if args.trace:  # the listener's copies of the progress reports
        reports = res["listener_progress"]
        sink = [p for p in reports if p.get("name") == "sink"]
        state = [p for p in reports if p.get("name") == "state"]
    else:
        sink, state = res["progress"]["sink"], res["progress"]["state"]
    data_batches = [p for p in sink if p.get("numInputRows", 0) > 0]
    trig = [p["durationMs"].get("triggerExecution", 0) / 1e3
            for p in data_batches]
    state_ops = [op for p in state for op in p.get("stateOperators", [])]
    if not args.trace:
        warm_trig = [p["durationMs"].get("triggerExecution", 0) / 1e3
                     for p in data_batches
                     if warm[0] <= epoch_s(p["timestamp"]) < warm[1]]
        return total, failed, {
            "setup_s": median(res["setup_s"]),
            "pass_s": median(warm_trig),
            "query_p50_s": pct(mid_lat, 50),
            "query_p90_s": pct(mid_lat, 90),
            "throughput_per_s": sustained or 0.0,
            "cache_peak_mb": max((op.get("memoryUsedBytes", 0)
                                  for op in state_ops), default=0) / MB,
            "_executions": len(mid_lat),
        }
    with open(spans_path, "w") as fh:
        json.dump(stream_spans(files, rates, sink), fh)
    m = {f"{layer}.{f}": 0.0 for layer in LAYERS for f in LAYER_FIELDS}
    for k in OTHER_FIELDS:
        m[k] = 0.0
    rows = sum(p["numInputRows"] for p in data_batches)
    m.update({
        "streaming.batches": float(len(data_batches)),
        "streaming.batch_p50_s": pct(trig, 50),
        "streaming.batch_p99_s": pct(trig, 99),
        "streaming.addbatch_s": sum(p["durationMs"].get("addBatch", 0)
                                    for p in state) / 1e3,
        "streaming.processed_eps": rows / sum(trig) if trig else 0.0,
        "streaming.state_rows": float(max((op.get("numRowsTotal", 0)
                                           for op in state_ops), default=0)),
        "streaming.state_mb": max((op.get("memoryUsedBytes", 0)
                                   for op in state_ops), default=0) / MB,
        "streaming.lat_p99_s": pct(mid_lat, 99),
        "sources.list_s": sum(p["durationMs"].get("latestOffset", 0)
                              for p in sink) / 1e3,
        "sources.backlog_files_max": float(max(
            backlog(fl["renamed"]) for fl in files)),
        "sinks.foreachbatch_s": sum(p["durationMs"].get("addBatch", 0)
                                    for p in sink) / 1e3,
        "loadgen.lag_p99_s": pct([fl["renamed"] - fl["scheduled"]
                                  for fl in files], 99),
    })
    return total, failed, m


# ------------------------------------------------------------------ main

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    root = os.getcwd()
    for need in ["build.sbt", "src/main/scala/graft", "tools/check_oracle.py"]:
        if not os.path.exists(os.path.join(root, need)):
            log(f"not a graft checkout: {need} is missing under {root}")
            sys.exit(2)
    w = WORKLOADS[args.workload]
    work = os.path.join(root, ".perfbench")
    run_dir = os.path.join(work, "run", args.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        cp, stamp = build(root, work)
        data = gen.ensure(os.path.join(work, "data", f"sf{w['sf']}",
                                       f"seed-{args.seed}"), args.seed, w["sf"])
        if w["kind"] == "batch":
            res, attempted, failed, correct, metrics = run_batch(
                args, w, root, work, run_dir, cp, stamp, data)
        else:
            attempted, failed, metrics = run_stream(
                args, w, root, work, run_dir, cp, stamp, data)
            correct = failed == 0
            with open(f"{run_dir}/result.json") as fh:
                res = json.load(fh)
    except (BenchError, subprocess.SubprocessError, OSError, KeyError) as e:
        log(f"run failed: {e}")
        sys.exit(1)
    executions = metrics.pop("_executions", None)
    units = END_TO_END if not args.trace else {}
    out = {k: {"value": v, "unit": units.get(k, unit_of(k))}
           for k, v in metrics.items()}
    stamp_line = dict(res["conditions"], workload=args.workload,
                      seed=args.seed, sf=w["sf"], traced=bool(args.trace),
                      seconds=args.seconds, git_sha=git_sha(root),
                      source_sha256=stamp, samples=executions)
    print(json.dumps({"run_conditions": stamp_line}))
    with open(f"{run_dir}/report.json", "w") as fh:
        json.dump({"run_conditions": stamp_line, "metrics": out,
                   "attempted": attempted, "failed": failed}, fh, indent=1)
    print(json.dumps({"correct": bool(correct), "attempted": attempted,
                      "failed": failed, "metrics": out}))


def unit_of(name):
    if name.endswith("_s"):
        return "s"
    if "_mb" in name:
        return "MB"
    return "1/s" if name.endswith("_eps") else "count"


if __name__ == "__main__":
    main()
