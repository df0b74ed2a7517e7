#!/usr/bin/env python3
"""Benchmark of the engine through its query contract (graft.SparkEntry).

Run from the repository root:

    python3 perfbench/run.py --workload batch_mix --seed 1 --seconds 22 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 22 --trace 1

One run of a workload (perfbench/workloads.json):

1. builds the harness and the engine from source with sbt (perfbench/
   build.sbt) unless the sources are unchanged since the last build;
2. starts one JVM running perfbench.Main, a closed-loop client that sets
   up the session, runs an untimed warm-up pass, then times passes of the
   workload's queries (query-function call + collect() of the full result):
   one whole pass, then queries keep starting until --seconds have passed;
   the input is the scale-0.01 test fixture in perfbench/fixture/sf0.01 and
   the seed only permutes the query order of each pass;
3. checks every distinct result against DuckDB running the query's
   SparkEntry.oracleSql over the same parquet files, compared with the
   normalisation of tools/check.py;
4. prints the metrics as the last line of stdout, one JSON object:
   end-to-end metrics with --trace 0, per-layer metrics with --trace 1.

Exit code 0 when every execution succeeded and matched the oracle, 1 when
an execution threw or mismatched (the result line is still printed), 2 when
the benchmark cannot run at all (no engine sources, build failure, JVM
crash or timeout) — then no result line is printed.

Scratch (shuffle dirs, checkpoints, results) lives under
.bench_build/perfbench/runs/ and is removed at exit; the report of each
run, with host facts, per-query timings and sample counts, stays under
.bench_build/perfbench/reports/.
"""
import argparse
import hashlib
import importlib.util
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import stats  # noqa: E402

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
JVM_TIMEOUT_S = 150
BUILD_TIMEOUT_S = 780
HEAP = "3g"
FIXTURE = os.path.join(HERE, "fixture", "sf0.01")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# (name, unit) — the metrics a run reports; BENCHMARK.json lists the same.
END_TO_END = [
    ("setup_s", "s"), ("rows_per_s", "rows/s"), ("query_gmean_s", "s"),
    ("retained_heap_mb", "MB"),
]
PER_LAYER = [
    ("plan.analysis_ms", "ms"), ("plan.optimizer_ms", "ms"),
    ("plan.physical_ms", "ms"), ("plan.codegen_compiles", "count"),
    ("tables.input_rows", "rows"), ("tables.input_mb", "MB"),
    ("tables.rows_per_result", "ratio"), ("tables.files_listed", "count"),
    ("batch.build_s", "s"), ("batch.exec_s", "s"),
    ("iter.build_s", "s"), ("iter.jobs_per_query", "count"),
    ("llm.build_s", "s"), ("llm.exec_s", "s"), ("llm.pairs_per_result", "ratio"),
    ("stream.batches", "count"), ("stream.empty_batch_frac", "fraction"),
    ("stream.input_rows", "rows"), ("stream.trigger_ms", "ms"),
    ("stream.plan_ms", "ms"), ("stream.exec_ms", "ms"), ("stream.wal_ms", "ms"),
    ("stream.source_ms", "ms"), ("stream.lifecycle_s", "s"),
    ("stream.batch_p50_ms", "ms"),
    ("state.rows_total", "rows"), ("state.rows_updated", "rows"),
    ("state.mem_mb", "MB"), ("state.commit_ms", "ms"), ("state.dropped_rows", "rows"),
    ("op.join_rows_out", "rows"), ("op.generate_rows_out", "rows"),
    ("op.agg_build_ms", "ms"), ("op.sort_ms", "ms"),
    ("op.broadcast_build_ms", "ms"), ("op.broadcast_mb", "MB"), ("op.wscg_ms", "ms"),
    ("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
    ("exec.driver_gap_s", "s"), ("exec.task_s", "s"), ("exec.cpu_s", "s"),
    ("exec.busy_frac", "fraction"), ("exec.task_wait_s", "s"),
    ("exec.task_skew", "ratio"), ("exec.spill_mb", "MB"), ("exec.gc_s", "s"),
    ("exec.shuffle_write_mb", "MB"), ("exec.shuffle_read_mb", "MB"),
    ("exec.fetch_wait_s", "s"), ("exec.peak_rss_mb", "MB"),
    ("trace.overhead_frac", "fraction"),
    ("self.pass_frac", "fraction"),
    ("self.query_frac", "fraction"), ("self.build_frac", "fraction"),
    ("self.action_frac", "fraction"), ("self.job_frac", "fraction"),
    ("self.microbatch_frac", "fraction"),
]
SPAN_NAMES = ["pass", "query", "build", "action", "job", "microbatch"]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BenchError(Exception):
    """The benchmark could not produce a result."""


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def load_spec():
    with open(os.path.join(HERE, "workloads.json")) as f:
        return json.load(f)


# --------------------------------------------------------------- build

def source_files():
    roots = [os.path.join(ROOT, "src", "main", "scala"),
             os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files.extend(os.path.join(d, f) for f in fs)
    return sorted(files)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise BenchError("no Spark installation (set SPARK_HOME)")
    return home


def build():
    """Compile engine + harness; return the runtime classpath."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(WORK, "classpath.txt")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f, open(cp_file) as g:
            if f.read() == stamp:
                return g.read()
    sbt = shutil.which("sbt")
    if not sbt:
        raise BenchError("sbt not found on PATH")
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx3g")
    log_path = os.path.join(WORK, "build.log")
    log("building engine + harness with sbt (first run only)")
    with open(log_path, "w") as out:
        try:
            p = subprocess.run(
                [sbt, "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out,
                stdin=subprocess.DEVNULL, text=True, timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise BenchError("sbt build timed out")
        out.write(p.stdout)
    cps = [ln.strip() for ln in p.stdout.splitlines()
           if "perfbench" in ln and "classes" in ln and not ln.startswith("[")]
    if p.returncode != 0 or not cps:
        raise BenchError(f"sbt build failed, see {log_path}")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


# ---------------------------------------------------------- host facts

def host_facts():
    facts = {"nproc": os.cpu_count(), "heap": f"-Xmx{HEAP}"}
    try:
        with open("/proc/loadavg") as f:
            facts["loadavg_start"] = [float(x) for x in f.read().split()[:3]]
    except OSError:
        pass
    return facts


def io_probe_mb_s(directory):
    """Timed, fsync'd 32 MB write to the block device under the checkout
    (in the style of graft.Bench's io probe): a throttled host identifies
    itself in the report."""
    mb = 32
    path = os.path.join(directory, "io_probe.tmp")
    chunk = os.urandom(1 << 20)
    t0 = time.perf_counter()
    with open(path, "wb") as f:
        for _ in range(mb):
            f.write(chunk)
        f.flush()
        os.fsync(f.fileno())
    dt = time.perf_counter() - t0
    os.remove(path)
    return mb / dt


# ----------------------------------------------------------------- JVM

def java_bin():
    jh = os.environ.get("JAVA_HOME")
    if jh and os.path.exists(os.path.join(jh, "bin", "java")):
        return os.path.join(jh, "bin", "java")
    j = shutil.which("java")
    if not j:
        raise BenchError("java not found")
    return j


def run_jvm(classpath, run_dir, data_dir, workload, queries, seed, seconds,
            trace, cores):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java_bin()]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += [f"-Xmx{HEAP}", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dgraft.fastTmp={os.path.join(run_dir, 'fast')}",
            "-cp", classpath, "perfbench.Main",
            "--data", data_dir, "--out", os.path.join(run_dir, "out"),
            "--workload", workload, "--queries", ",".join(queries),
            "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--cores", str(cores)]
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as err:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=err, stderr=err,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except BaseException:
            p.kill()
            p.wait()
            raise
    if rc != 0:
        with open(log_path) as f:
            tail = f.read()[-3000:]
        raise BenchError(f"harness JVM exited {rc}:\n{tail}")
    with open(os.path.join(run_dir, "out", "run.json")) as f:
        return json.load(f)


# -------------------------------------------------------------- oracle

def load_check():
    path = os.path.join(ROOT, "tools", "check.py")
    spec = importlib.util.spec_from_file_location("check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def oracle_check(run, data_dir, run_dir):
    """{query: [variant ok]} — every distinct result of every query against
    DuckDB running its oracle SQL, normalised as tools/check.py does."""
    import duckdb
    check = load_check()
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute(f"SET temp_directory='{os.path.join(run_dir, 'duckdb_tmp')}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, t + '.parquet')}')")
    verdict = {}
    for q, dirs in run["results"].items():
        ocols, orows = check.frame_sig(con.execute(run["oracle_sql"][q]).fetchdf())
        oks = []
        for d in dirs:
            scols, srows = check.frame_sig(con.execute(
                f"SELECT * FROM read_parquet('{d}/*.parquet')").fetchdf())
            ok = scols == ocols and srows == orows
            if not ok:
                log(f"ORACLE MISMATCH {q} ({d}): spark {len(srows)} rows "
                    f"{scols}, oracle {len(orows)} rows {ocols}")
            oks.append(ok)
        verdict[q] = oks
    con.close()
    return verdict


# ------------------------------------------------------------- metrics

def per_query_latency(run):
    """{query: [latency s]} over the timed executions that succeeded."""
    per = {}
    for e in run["executions"]:
        if e["pass"] > 0 and e["error"] is None:
            per.setdefault(e["query"], []).append(e["build_s"] + e["action_s"])
    return per


def end_to_end(run, spec, table_rows):
    """Each query's median latency stands for it. query_gmean_s is their
    geometric mean (every query weighs the same, whatever its length),
    rows_per_s one pass's declared input rows over their sum."""
    per = per_query_latency(run)
    med = {q: stats.median(v) for q, v in per.items()}
    n = sum(len(v) for v in per.values())
    rows_in = sum(sum(table_rows[t] for t in spec["queries"][q]["tables"])
                  for q in med)
    setup = run["setup"]
    return {
        "setup_s": (setup["session_s"] + setup["warmup_s"], 1),
        "rows_per_s": (rows_in / sum(med.values()) if med else 0.0, n),
        "query_gmean_s": (stats.geomean(list(med.values())), n),
        "retained_heap_mb": (run["retained_heap_bytes"] / 1048576.0, 1),
    }


def per_layer(run, spec, spans, cores):
    traced = [p for p in run["passes"] if p["traced"]]
    plain = [p for p in run["passes"] if not p["traced"]]
    k = len(traced)
    agg = {}
    for p in traced:
        for name, v in p["layers"].items():
            agg[name] = agg.get(name, 0.0) + v / k
    ex = [e for e in run["executions"]
          if e["error"] is None and e["pass"] in {p["pass"] for p in traced}]
    layer_of = {q: spec["queries"][q]["layer"] for q in spec["queries"]}

    def layer_sum(layer, key):
        return sum(e[key] for e in ex if layer_of[e["query"]] == layer) / k

    def layer_count(layer):
        return sum(1 for e in ex if layer_of[e["query"]] == layer)

    result_rows = sum(e["rows"] for e in ex) / k
    out = {name: agg.get(name, 0.0) for name, _ in PER_LAYER}
    out["tables.rows_per_result"] = (
        out["tables.input_rows"] / result_rows if result_rows else 0.0)
    for layer in ("batch", "llm"):
        out[f"{layer}.build_s"] = layer_sum(layer, "build_s")
        out[f"{layer}.exec_s"] = layer_sum(layer, "action_s")
    out["iter.build_s"] = layer_sum("iter", "build_s")

    # jobs per iter query: job spans roll up to their query span
    by_id = {s["id"]: s for s in spans}

    def query_of(s):
        while s is not None and s["name"] != "query":
            s = by_id.get(s["parent"])
        return s

    traced_passes = {str(p["pass"]) for p in traced}
    iter_jobs = 0
    for s in spans:
        if s["name"] == "job":
            q = query_of(s)
            if (q and q["attrs"].get("pass") in traced_passes
                    and layer_of.get(q["attrs"]["query"]) == "iter"):
                iter_jobs += 1
    n_iter = layer_count("iter")
    out["iter.jobs_per_query"] = iter_jobs / n_iter if n_iter else 0.0

    llm_rows = sum(e["rows"] for e in ex if layer_of[e["query"]] == "llm") / k
    out["llm.pairs_per_result"] = (
        out["op.join_rows_out"] / llm_rows if layer_count("llm") and llm_rows else 0.0)

    batches = agg.get("stream.batches", 0.0)
    out["stream.empty_batch_frac"] = (
        agg.get("stream.empty_batches", 0.0) / batches if batches else 0.0)
    if layer_count("stream"):
        out["stream.lifecycle_s"] = (layer_sum("stream", "build_s")
                                     - out["stream.trigger_ms"] / 1e3)
    out["stream.batch_p50_ms"] = stats.percentile(run["trigger_ms"], 50)[0]

    wall = sum(p["wall_s"] for p in traced) / k
    jobs = [(s["start"], s["end"]) for s in spans if s["name"] == "job"]
    out["exec.driver_gap_s"] = sum(
        (p["end_ms"] - p["start_ms"]
         - stats.covered(jobs, p["start_ms"], p["end_ms"])) / 1e3
        for p in traced) / k
    out["exec.busy_frac"] = out["exec.task_s"] / (wall * cores) if wall else 0.0
    out["exec.peak_rss_mb"] = run["vmhwm_kb"] / 1024.0
    # against the untraced pass after it: that one is at least as warm, so
    # a still-warming JVM can only overstate the overhead
    after = [p for p in plain if p["pass"] > traced[-1]["pass"]]
    if after:
        out["trace.overhead_frac"] = wall / after[0]["wall_s"] - 1

    secs = self_time_by_name(spans)
    total = sum(secs.values())
    for name in SPAN_NAMES:
        out[f"self.{name}_frac"] = secs.get(name, 0.0) / total if total else 0.0
    return out


def nest(spans):
    """Complete the span tree from the raw spans. A micro-batch gets as
    parent the build span whose interval holds its start (1 ms slack: the
    progress timestamp has millisecond resolution; one client thread, so
    build spans never overlap). A micro-batch's jobs carry the local
    property of the build span that started the stream; each moves under
    the micro-batch of that build span whose interval holds the job's
    start."""
    ids = [s["id"] for s in spans]
    if len(ids) != len(set(ids)):
        raise BenchError("span ids are not unique")
    builds = [s for s in spans if s["name"] == "build"]
    for s in spans:
        if s["name"] == "microbatch":
            for b in builds:
                if b["start"] - 1 <= s["start"] <= b["end"]:
                    s["parent"] = b["id"]
                    break
    mbs = {}
    for s in spans:
        if s["name"] == "microbatch":
            mbs.setdefault(s["parent"], []).append(s)
    for s in spans:
        if s["name"] == "job":
            for m in mbs.get(s["parent"], []):
                if m["start"] <= s["start"] <= m["end"]:
                    s["parent"] = m["id"]
                    break
    return spans


def self_time_by_name(spans):
    """Self time (s) per span name over the traced pass."""
    roots = {s["id"] for s in spans if s["name"] == "pass"
             and s["attrs"].get("traced") == "true"}
    sub = stats.descendants(spans, roots)
    st = stats.self_times(sub)
    out = {}
    for s in sub:
        out[s["name"]] = out.get(s["name"], 0.0) + st[s["id"]] / 1e3
    return out


def query_table(run):
    """Per-query latency summary of the timed passes, for the report."""
    return {q: {"n": len(v), "p50_s": stats.median(v), "min_s": min(v),
                "max_s": max(v)} for q, v in per_query_latency(run).items()}


# ---------------------------------------------------------------- main

def fixture_rows():
    """{table: rows} from the fixture's parquet footers."""
    import pyarrow.parquet as pq
    return {t: pq.ParquetFile(os.path.join(FIXTURE, f"{t}.parquet"))
            .metadata.num_rows for t in TABLES}


def run_workload(name, seed, seconds, trace):
    spec_all = load_spec()
    if name not in spec_all["workloads"]:
        raise BenchError(f"unknown workload {name}")
    spec = spec_all["workloads"][name]
    facts = host_facts()
    cores = facts["nproc"]
    os.makedirs(WORK, exist_ok=True)
    classpath = build()
    data_dir = FIXTURE
    table_rows = fixture_rows()
    run_dir = os.path.join(WORK, "runs", f"{name}-{seed}-{trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        facts["io_probe_mb_s"] = io_probe_mb_s(run_dir)
        queries = list(spec["queries"])
        run = run_jvm(classpath, run_dir, data_dir, name, queries, seed,
                      seconds, trace, cores)
        verdict = oracle_check(run, data_dir, run_dir)
        spans = []
        if trace:
            with open(os.path.join(run_dir, "out", "spans.jsonl")) as f:
                spans = nest([json.loads(ln) for ln in f if ln.strip()])
            for s in spans:
                if s["name"] == "query":
                    s["attrs"]["module"] = spec["queries"][s["attrs"]["query"]]["module"]
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    attempted = len(run["executions"])
    failed = 0
    for e in run["executions"]:
        if e["error"] is not None or not verdict[e["query"]][e["variant"]]:
            failed += 1
    facts.update(run["host"])
    if trace:
        values = {m: (v, None) for m, v in per_layer(run, spec, spans, cores).items()}
        units = dict(PER_LAYER)
    else:
        values = end_to_end(run, spec, table_rows)
        units = dict(END_TO_END)
    metrics = {m: {"value": values[m][0], "unit": units[m]} for m in units}
    report = {
        "workload": name, "seed": seed, "seconds": seconds, "trace": trace,
        "host": facts, "fixture": os.path.relpath(FIXTURE, ROOT), "fixture_rows": table_rows,
        "loop": spec_all["loop"], "timing": spec_all["timing"],
        "setup": run["setup"], "passes": [
            {k: v for k, v in p.items() if k != "layers"} for p in run["passes"]],
        "queries": query_table(run),
        "errors": [e for e in run["executions"] if e["error"] is not None],
        "oracle": verdict, "attempted": attempted, "failed": failed,
        "error_rate": failed / attempted if attempted else 0.0,
        "metrics": {m: {"value": v, "unit": units[m], "n": n}
                    for m, (v, n) in values.items()},
    }
    if trace:
        report["self_time_s"] = self_time_by_name(spans)
    reports = os.path.join(WORK, "reports")
    os.makedirs(reports, exist_ok=True)
    base = os.path.join(reports, f"{name}-seed{seed}-trace{trace}")
    with open(base + ".json", "w") as f:
        json.dump(report, f, indent=1)
    if trace:
        with open(base + ".spans.jsonl", "w") as f:
            f.writelines(json.dumps(s) + "\n" for s in spans)
    return report, {"correct": failed == 0, "attempted": attempted,
                    "failed": failed, "metrics": metrics}


def summary(report):
    lines = [f"== {report['workload']} seed={report['seed']} "
             f"trace={report['trace']} attempted={report['attempted']} "
             f"failed={report['failed']} error_rate={report['error_rate']:.4f}"]
    for m, v in report["metrics"].items():
        n = "" if v["n"] is None else f" n={v['n']}"
        lines.append(f"   {m:26s} {v['value']:14.6g} {v['unit']}{n}")
    return "\n".join(lines)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still stops (and waits for) the harness JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft",
                                        "SparkEntry.scala"))
            and os.path.isfile(os.path.join(ROOT, "tools", "check.py"))):
        log("run from the repository root: engine sources or tools/check.py missing")
        return 2
    names = list(load_spec()["workloads"]) if a.workload == "all" else [a.workload]
    results = {}
    try:
        for name in names:
            report, result = run_workload(name, a.seed, a.seconds, a.trace)
            print(summary(report), flush=True)
            results[name] = result
    except BenchError as e:
        log(str(e))
        return 2
    final = results[names[0]] if len(names) == 1 else results
    print(json.dumps(final), flush=True)
    return 0 if all(r["correct"] for r in results.values()) else 1


if __name__ == "__main__":
    sys.exit(main())
