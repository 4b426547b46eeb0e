#!/usr/bin/env python3
"""Benchmark of the graft Spark library on four user workloads.

    python3 perfbench/run.py --workload {dag,screen,curate,queries} \
        --seed N --seconds S --trace {0,1}

Run from the repository root. The command builds the library and the
benchmark harness from source (once per source tree; output under
$CARGO_TARGET_DIR, default `.bench_build`), generates the workload's
inputs from the seed, runs the workload closed-loop in one JVM on
local[N] (N = min(4, nproc)), checks every output, and prints the
metrics. The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}. With `--trace 0` the
metrics are the end-to-end ones, with `--trace 1` the per-layer ones
(see perfbench/README.md). Scratch files live under `.bench_work`,
per-run records under `.bench_results`.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen_inputs  # noqa: E402

WORKLOADS = ("dag", "screen", "curate", "queries")
LIB_SRC = os.path.join("src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "scala")
FIXTURES = gen_inputs.FIXTURES
JVM_TIMEOUT_S = 150
# set-ups per run; setup_s is their median
SETUPS = 3
# untimed passes after set-up, as a share of --seconds: passes keep
# getting faster for ~10 passes while the JIT compiles
WARM_SHARE = 0.75
# screen bulks, curate corpus multiple (5,000 docs per unit) and the
# queries scale factor: sized so one pass takes a few seconds at local[3]
SCREEN_BULKS = 25
CURATE_MULTIPLE = 1
QUERIES_SF = 0.01
# the declared queries the `queries` workload runs (see README.md)
QUERIES = [
    "q_scan_filter", "q_equi_join", "q_running_sum", "q_window_agg", "q_asof_join",
    "q_sessionize", "q_salted_join", "q_merge_upsert", "q_time_travel", "q_zonemap_prune",
    "q_data_profile", "q_ks_drift", "q_classifier_score", "q_connected_components",
    "q_minhash_components", "q_cluster_best", "q_jaccard_neardup", "q_cosine_topk",
    "q_ivf_topk", "q_embed_components", "q_bm25", "q_pack_shards", "q_curation_pipeline",
    "q_image_features", "q_audio_features", "q_dedup_keyed", "q_pivot", "q_edit_distance",
    "q_jaro_winkler", "q_embed_scale",
]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def java_opts():
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    return [f"--add-opens=java.base/{m}=ALL-UNNAMED" for m in opens]


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against."""
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open("build.sbt") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        jars = m.group(1) if m else ""
    if not os.path.isdir(jars):
        sys.exit(f"perfbench: Spark jars not found at '{jars}' (set SPARK_HOME)")
    return os.path.join(jars, "*")


def sources(root):
    out = []
    for d, _, files in os.walk(root):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def compile_scala(srcs, out_dir, classpath):
    """scalac (the compiler jar Spark ships) into out_dir, skipped when
    a stamp of the sources and class path says it is current."""
    h = hashlib.sha256(classpath.encode())
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(out_dir, ".stamp")
    if os.path.exists(stamp):
        with open(stamp) as f:
            if f.read() == h.hexdigest():
                return
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    log(f"compiling {len(srcs)} sources into {out_dir}")
    argfile = out_dir + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", spark_jars(), "scala.tools.nsc.Main",
                        "-usejavacp", "-nowarn", "-cp", classpath, "-d", out_dir, "@" + argfile],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout)
        sys.exit("perfbench: compilation failed")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())


def build():
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    lib = os.path.join(build_dir, "lib-classes")
    bench = os.path.join(build_dir, "bench-classes")
    compile_scala(sources(LIB_SRC), lib, spark_jars())
    compile_scala(sources(BENCH_SRC), bench, lib + os.pathsep + spark_jars())
    return [bench, lib]


def cpu_ticks():
    """(total, idle + iowait, steal) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v), v[3] + v[4], v[7] if len(v) > 7 else 0


def share(before, after, i):
    return (after[i] - before[i]) / max(1, after[0] - before[0])


def cpu_busy(seconds=0.5):
    """Share of all CPUs busy over a short sample."""
    t0 = cpu_ticks()
    time.sleep(seconds)
    return 1.0 - share(t0, cpu_ticks(), 1)


def capture_env(cores):
    """Machine state at start: a loaded box flags itself. The load
    average lags by a minute, so a short CPU sample decides."""
    load1 = os.getloadavg()[0]
    busy = cpu_busy()
    ancestors, pid = set(), os.getpid()
    while pid > 1 and pid not in ancestors:
        ancestors.add(pid)
        try:
            with open(f"/proc/{pid}/stat") as f:
                pid = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            break
    foreign = 0
    for p in os.listdir("/proc"):
        if p.isdigit() and int(p) not in ancestors:
            try:
                with open(f"/proc/{p}/cmdline", "rb") as f:
                    if b"xsbt.boot.Boot" in f.read():
                        foreign += 1
            except OSError:
                pass
    commit = "unknown"
    try:  # only when the checkout itself is a git work tree
        r = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"],
                           capture_output=True, text=True)
        top, head = (r.stdout.split() + ["", ""])[:2]
        if r.returncode == 0 and os.path.realpath(top) == os.path.realpath("."):
            commit = head
    except OSError:
        pass
    nproc = os.cpu_count() or 1
    return {"nproc": nproc, "local_n": cores, "load_avg_1m": load1, "cpu_busy": busy,
            "foreign_sbt_jvms": foreign, "git_commit": commit,
            "loaded": busy > 0.25 or foreign > 0}


def make_inputs(workload, seed, work):
    """Seeded inputs, generated once per (workload, seed, size)."""
    size = {"dag": 3, "screen": SCREEN_BULKS, "curate": CURATE_MULTIPLE, "queries": QUERIES_SF}
    d = os.path.join(work, "inputs", f"{workload}-s{seed}-n{size[workload]}")
    if os.path.exists(os.path.join(d, ".done")):
        return d
    shutil.rmtree(d, ignore_errors=True)
    if workload == "dag":
        gen_inputs.gen_dag(d, seed)
    elif workload == "screen":
        gen_inputs.gen_screen(d, seed, SCREEN_BULKS)
    elif workload == "curate":
        gen_inputs.gen_curate(d, seed, CURATE_MULTIPLE)
    else:
        gen_inputs.gen_queries(d, seed, QUERIES_SF)
    open(os.path.join(d, ".done"), "w").close()
    return d


def duckdb_rows(inputs, sql):
    import duckdb
    con = duckdb.connect()
    try:
        for f in sorted(os.listdir(inputs)):
            if f.endswith(".parquet"):
                con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('"
                            + os.path.join(inputs, f) + "')")
        return con.execute(sql).fetchall()
    finally:
        con.close()


def oracle_failures(workload, inputs, raw):
    """Names of the operations whose output disagrees with DuckDB."""
    bad = set()
    if workload == "curate":
        want = sorted(tuple(r) for r in duckdb_rows(inputs, raw["extra"]["oracle_sql"]))
        got = sorted(tuple(r) for r in raw["extra"]["acct"])
        if [tuple(map(str, r)) for r in want] != [tuple(map(str, r)) for r in got]:
            bad = {op["name"] for op in raw["ops"]}
            log(f"curation accounting differs from DuckDB: {len(got)} vs {len(want)} rows")
    elif workload == "queries":
        counts = {}
        for name, sql in raw["extra"]["oracle_sql"].items():
            counts[name] = duckdb_rows(inputs, f"SELECT count(*) FROM ({sql}) AS q")[0][0]
        for op in raw["ops"]:
            if op.get("rows") != counts.get(op["name"]):
                bad.add(op["name"])
                log(f"{op['name']}: {op.get('rows')} rows, DuckDB {counts.get(op['name'])}")
    return bad


def q(xs, p):
    """Quantile with linear interpolation; p in [0, 1]."""
    s = sorted(xs)
    pos = p * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def done(xs):
    """Pass times of passes that did not throw (a thrown pass reads null)."""
    return [x for x in xs if x is not None]


def timed(raw):
    """Latencies and total work items of the operations that did not throw."""
    ops = [o for o in raw["ops"] if o["seconds"] is not None]  # None: the pass threw
    return [o["seconds"] for o in ops], sum(o["items"] for o in ops)


def metrics_of(raw, trace):
    """The contract metrics: end-to-end with trace off, per-layer on."""
    setups = raw["setups"]
    if not trace:
        lat, items = timed(raw)
        return {
            "setup_s": (statistics.median(s["session_s"] + s["warmup_s"] for s in setups), "s"),
            "heap_peak_mb": (raw["heap_mb"], "MB"),
            "latency_p50_s": (statistics.median(lat), "s"),
            "throughput_per_s": (items / sum(lat), "1/s"),
        }
    n_ops = max(1, raw["spark_ops"])
    unit = lambda k: "s/op" if k.endswith("_s") else "B/op" if k.endswith("_bytes") else "count/op"
    m = {f"spark.{k}": (v / n_ops, unit(k)) for k, v in sorted(raw["spark"].items())}
    m["setup.session_s"] = (statistics.median(s["session_s"] for s in setups), "s")
    m["setup.warmup_s"] = (statistics.median(s["warmup_s"] for s in setups), "s")
    m["trace.overhead_s"] = (statistics.median(done(raw["traced_pass_s"]))
                             - statistics.median(done(raw["plain_pass_s"])), "s")
    return m


def named_figures(workload, raw, trace):
    """Each workload's headline figures under the names it is discussed by."""
    lat, items = timed(raw)
    per_s = items / sum(lat)
    if trace:
        if workload == "dag":
            return [("dag.spark_jobs", raw["spark"]["jobs"] / max(1, raw["spark_ops"]), "count/pass")]
        return []
    if workload == "dag":
        return [("dag_p50_s", statistics.median(lat), f"s (n={len(lat)})")]
    if workload == "screen":
        return [("screen_runs_per_s", per_s, "1/s")]
    if workload == "curate":
        return [("curate_docs_per_s", per_s, "1/s")]
    return [("query_p50_s", statistics.median(lat), f"s (n={len(lat)})"),
            ("query_p90_s", q(lat, 0.9), f"s (n={len(lat)})"),
            ("queries_total_s", statistics.median(done(raw["pass_s"])),
             f"s (n={len(done(raw['pass_s']))})")]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (os.path.isdir(LIB_SRC) and os.path.isdir(FIXTURES)
            and os.path.isfile(os.path.join("tools", "gen_scale_corpus.py"))):
        sys.exit("perfbench: run from the repository root (library sources, "
                 "test fixtures and tools/gen_scale_corpus.py are required)")

    # one core of at most four is left to the driver thread, the JIT
    # compiler and GC: run-to-run spread halved against local[4] on 4 cores
    cores = max(1, min(4, os.cpu_count() or 1) - 1)
    env = capture_env(cores)
    if env["loaded"]:
        log(f"WARNING: box is not idle ({env['cpu_busy']:.0%} CPU busy, "
            f"{env['foreign_sbt_jvms']} foreign sbt JVMs); timings carry that noise")
    classpath = build()

    work = os.path.abspath(".bench_work")
    inputs = make_inputs(a.workload, a.seed, work)
    scratch = os.path.join(work, f"run-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(os.path.join(scratch, "tmp"))
    out = os.path.join(scratch, "raw.json")
    # fixed heap and the stop-the-world parallel collector: no heap
    # resizing and no concurrent GC threads competing with tasks
    cmd = (["java", "-Xms1g", "-Xmx1g", "-XX:+UseParallelGC", "-Xss8m",
            "-XX:ReservedCodeCacheSize=512m",
            "-Djava.io.tmpdir=" + os.path.join(scratch, "tmp"),
            "-Dderby.system.home=" + scratch, "-Dderby.stream.error.file=" + os.path.join(scratch, "derby.log")]
           + java_opts()
           + ["-cp", os.pathsep.join(classpath + [spark_jars()]), "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--cores", str(cores), "--setups", str(SETUPS),
              "--warm-seconds", str(WARM_SHARE * a.seconds),
              "--inputs", inputs, "--fixtures", os.path.abspath(FIXTURES),
              "--scratch", scratch, "--queries", ",".join(QUERIES), "--out", out])
    t0, ticks0 = time.time(), cpu_ticks()
    with open(os.path.join(scratch, "jvm.log"), "w") as jlog:
        proc = subprocess.Popen(cmd, stdout=jlog, stderr=subprocess.STDOUT, cwd=scratch)

        def stop(signum, _frame):  # never leave the JVM behind
            proc.kill()
            proc.wait()
            sys.exit(128 + signum)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = -9
    if rc != 0 or not os.path.exists(out):
        with open(os.path.join(scratch, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        sys.exit(f"perfbench: benchmark JVM failed (exit {rc})")
    with open(out) as f:
        raw = json.load(f)
    wall = time.time() - t0
    env["cpu_steal_during_run"] = share(ticks0, cpu_ticks(), 2)
    if env["cpu_steal_during_run"] > 0.02:
        env["loaded"] = True
        log(f"WARNING: the hypervisor took {env['cpu_steal_during_run']:.1%} of the CPU "
            "during the run; timings carry that noise")

    bad = oracle_failures(a.workload, inputs, raw)
    attempted = len(raw["ops"])
    failed = sum(1 for o in raw["ops"] if o["failures"] or o["name"] in bad)
    for o in raw["ops"]:
        for msg in o["failures"]:
            log(f"{o['name']}: {msg}")
    metrics = metrics_of(raw, a.trace)
    metrics_json = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}

    env.update({"java_version": raw["java_version"], "spark_version": raw["spark_version"]})
    record = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "env": env,
              "jvm_wall_s": wall, "attempted": attempted, "failed": failed,
              "ops_failed_frac": failed / attempted,
              "metrics": metrics_json, "layers": raw.get("layers", {}), "raw": raw}
    res_dir = os.path.abspath(".bench_results")
    os.makedirs(res_dir, exist_ok=True)
    path = os.path.join(res_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1)
    shutil.rmtree(scratch, ignore_errors=True)

    print(f"environment: {json.dumps(env)}")
    print(f"ops_failed_frac: {failed / attempted:.6f} ratio ({failed} of {attempted} operations)")
    for k, (v, u) in metrics.items():
        print(f"{k}: {v:.6f} {u}")
    for k, v, u in named_figures(a.workload, raw, a.trace):
        print(f"{k}: {v:.6f} {u}")
    for k, v in sorted(raw.get("layers", {}).items()):
        print(f"{k}: {v:.6f}")
    print(f"record: {os.path.relpath(path)}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics_json}))


if __name__ == "__main__":
    main()
