#!/usr/bin/env python3
"""graft's benchmark of record.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --smoke

Run from the root of a checkout. The first call builds the repository and
the harness (perfbench/harness) with sbt, offline, into ignored build
directories; later calls reuse the build while the sources are unchanged.

One run of a workload is one closed loop with one client, `local[n]` with
n = min(cores, 4), over the read-only input tables in perfbench/data:

  1. three JVMs, one after the other, each timed from its start until the
     session is ready and graft.LocalSession.warmup is done (set-up), then
     through one cold pass over the workload's operations;
  2. the last of them then runs warm passes for `--seconds`: three warm-up
     passes, then at least three measured ones; the session cache is cleared
     before each pass, and the seed permutes the operations of each pass;
  3. an untimed check pass whose outputs are compared with the DuckDB oracle
     (`SparkEntry.oracleSql`), cached in perfbench/oracle.

With --trace 0 the last stdout line carries the end-to-end metrics, with
--trace 1 the per-layer metrics of the traced passes; the lines before it
are a readable report. Each JVM runs in its own directory under
perfbench/.runs (temp dir, Spark local dirs, warehouse, Derby home), which
is removed afterwards; the bytes the program left there are reported.
`--smoke` runs every workload's operations once, with the output check.
"""
import argparse
import hashlib
import importlib.util
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import zipfile

sys.dont_write_bytecode = True  # importing tools/check.py leaves nothing behind

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
BUILD = os.path.join(HERE, ".build")
RUNS = os.path.join(HERE, ".runs")
RESULTS = os.path.join(HERE, "results")
DATA = os.path.join(HERE, "data", "sf0.001")
ORACLE = os.path.join(HERE, "oracle")

# Operations are SparkEntry query names, each with the src/main/scala/graft
# module that owns its entry function (for the per-module busy time).
WORKLOADS = {
    # an AvailableNow micro-batch stream folding each batch into a published
    # store: nearly all of its time is inside the entry call, in stream
    # batches of small jobs at low executor use.
    "curation_stream": [
        ("q_stream_publish_fold", "streaming.StreamPublish"),
    ],
    # near-dup hashing and perceptual codecs, read-mostly with persisted
    # family stages: the busiest executors of the three, and the control
    # that a change which narrows dispatch or partitions must not slow.
    "corpus_batch": [
        ("q_minhash_lsh", "operators.DedupOps"),
        ("q_image_dedup", "operators.MultimodalOps"),
        ("q_video_fingerprint", "operators.MultimodalOps"),
    ],
}
MODULES = sorted({m for ops in WORKLOADS.values() for _, m in ops})

END_TO_END = [("setup_s", "s"), ("cold_s", "s"), ("wall_s", "s"), ("peak_rss_mb", "MB")]
TASK_KEYS = [("executor.busy_s", "s"), ("executor.cpu_s", "s"), ("executor.deser_s", "s"),
             ("executor.gc_s", "s"), ("scan.bytes", "bytes"), ("scan.records", "count"),
             ("shuffle.write_bytes", "bytes"), ("shuffle.write_s", "s"),
             ("shuffle.read_bytes", "bytes"), ("shuffle.fetch_wait_s", "s"),
             ("spill.mem_bytes", "bytes"), ("spill.disk_bytes", "bytes"),
             ("write.bytes", "bytes"), ("write.records", "count")]
PER_LAYER = ([("setup.session_s", "s"), ("setup.warmup_s", "s"),
              ("entry.build_s", "s"), ("entry.exec_s", "s")]
             + [(f"{m}.busy_s", "s") for m in MODULES]
             + [("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
                ("spark.single_task_stages", "count"), ("spark.driver_s", "s"),
                ("executor.util", "ratio")]
             + TASK_KEYS
             + [("scan.reread_x", "x"), ("cache.rdds_end", "count"),
                ("cache.mem_mb_peak", "MB"), ("cache.disk_mb_peak", "MB"),
                ("stream.batches", "count"), ("stream.trigger_ms", "ms"),
                ("stream.add_batch_ms", "ms"), ("stream.query_planning_ms", "ms"),
                ("stream.wal_commit_ms", "ms"), ("stream.commit_offsets_ms", "ms"),
                ("stream.latest_offset_ms", "ms"), ("stream.batch_p50_ms", "ms"),
                ("stream.batch_tail_ms", "ms"), ("trace.overhead_x", "x")])

JVMS = 3             # JVMs per run; setup_s and cold_s are medians over them
WARMUP_PASSES = 3    # warm passes left out of wall_s: the JIT is still compiling
RUN_DEADLINE_S = 170  # a run must end within 180 s once built
CPUS = min(os.cpu_count() or 1, 4)
# The parallel collector has no concurrent marking threads competing with
# the four task threads, and sizes the heap the same way run after run: with
# it, run-to-run spreads of every end-to-end metric, peak RSS included, fell
# to about a third of what G1 gave on the same 4-core box.
JVM_OPTS = ["-Xmx3g", "-XX:+UseParallelGC"]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"perfbench: {msg}")
    sys.exit(code)


def run_proc(cmd, cwd, env=None, timeout=None, out=None):
    """Runs cmd in its own process group and waits for it; on timeout the
    whole group is killed and awaited."""
    with open(out or os.devnull, "w") as f:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=f, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise


# ---------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256(" ".join(JVM_OPTS).encode())
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
            os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "build.sbt"),
            os.path.join(HARNESS, "project", "build.properties"), os.path.join(HARNESS, "src")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compiles graft and the harness, jars the class directories (a CDS
    archive takes jars only) and dumps a class-data-sharing archive of the
    set-up path. Returns the java command prefix.

    The archive is there for run length: it halves a set-up (about 7 s
    against 12 s on a 4-core box), without which a run's three set-ups no
    longer fit the time the benchmark's runs are given."""
    for p in ("build.sbt", os.path.join("src", "main", "scala", "graft", "SparkEntry.scala")):
        if not os.path.isfile(os.path.join(ROOT, p)):
            fail(f"{p} not found: run from the root of a graft checkout")
    stamp = source_stamp()
    spec_path = os.path.join(BUILD, "launch.json")
    if os.path.isfile(spec_path):
        with open(spec_path) as f:
            spec = json.load(f)
        if spec["stamp"] == stamp:
            return spec["java"]
    shutil.rmtree(BUILD, ignore_errors=True)
    os.makedirs(os.path.join(BUILD, "tmp"))
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    # sbt's own state and temp files stay in the build directory; its
    # launcher and the dependency cache are only read
    sbt_opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
                f"-Dsbt.global.base={os.path.join(BUILD, 'sbt')}",
                f"-Djava.io.tmpdir={os.path.join(BUILD, 'tmp')}"]
    if os.path.isfile(repos):
        sbt_opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(sbt_opts)
    log("perfbench: building (sbt, offline)")
    rc = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", "launchFile"], HARNESS, env,
                  timeout=600, out=os.path.join(BUILD, "sbt.log"))
    if rc != 0:
        fail(f"build failed, see {os.path.join(BUILD, 'sbt.log')}")
    opts, cp = [], []
    with open(os.path.join(HARNESS, "target", "launch.txt")) as f:
        for line in f.read().splitlines():
            kind, value = line.split(" ", 1)
            (opts if kind == "opt" else cp).append(value)
    jars = []
    for i, entry in enumerate(cp):
        if os.path.isdir(entry):
            jar = os.path.join(BUILD, f"classes{i}.jar")
            with zipfile.ZipFile(jar, "w") as z:
                for d, _, fs in os.walk(entry):
                    for f in sorted(fs):
                        z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), entry))
            entry = jar
        jars.append(entry)
    # the root build's -Xmx follows the environment; the benchmark pins its own
    opts = [o for o in opts if not o.startswith("-Xmx")] + JVM_OPTS
    java = ["java"] + opts + ["-cp", os.pathsep.join(jars)]
    jsa = os.path.join(BUILD, "setup.jsa")
    run_dir = new_run_dir("cds")
    rc = jvm(java + [f"-XX:ArchiveClassesAtExit={jsa}"], "setup", run_dir, [], 300)[0]
    shutil.rmtree(run_dir, ignore_errors=True)
    if rc != 0 or not os.path.isfile(jsa):
        fail("class-data-sharing archive was not written")
    java = java[:1] + [f"-XX:SharedArchiveFile={jsa}"] + java[1:]
    with open(spec_path, "w") as f:
        json.dump({"stamp": stamp, "java": java}, f)
    return java


# ---------------------------------------------------------------- runs

def new_run_dir(name):
    d = os.path.join(RUNS, f"{name}-{os.getpid()}-{time.monotonic_ns()}")
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(d, sub))
    return d


def jvm(java, mode, run_dir, args, timeout):
    """Starts one harness JVM isolated in run_dir and waits for it. Returns
    (exit code, result dict or None, launch time in epoch seconds)."""
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"))
    cmd = java[:1] + [f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
                      f"-Dderby.system.home={run_dir}",
                      f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}"]
    cmd += java[1:] + ["perfbench.Main", "--mode", mode, "--run-dir", run_dir,
                       "--data", DATA, "--cpus", str(CPUS)] + args
    launched = time.time()
    try:
        rc = run_proc(cmd, run_dir, env, timeout=timeout, out=os.path.join(run_dir, "jvm.log"))
    except subprocess.TimeoutExpired:
        return -1, None, launched
    path = os.path.join(run_dir, "result.json")
    result = None
    if rc == 0 and os.path.isfile(path):
        with open(path) as f:
            result = json.load(f)
    return rc, result, launched


def dir_bytes(d):
    return sum(os.path.getsize(os.path.join(p, f)) for p, _, fs in os.walk(d) for f in fs
               if not os.path.islink(os.path.join(p, f)))


def leftover_bytes(run_dir):
    """Bytes the program left in its isolated directories (not the
    harness's own result, log and check outputs)."""
    own = {"result.json", "jvm.log", "out"}
    total = 0
    for name in os.listdir(run_dir):
        p = os.path.join(run_dir, name)
        if name in own:
            continue
        total += dir_bytes(p) if os.path.isdir(p) else os.path.getsize(p)
    return total


# ---------------------------------------------------------------- check

def load_check_tool():
    spec = importlib.util.spec_from_file_location("graft_check", os.path.join(ROOT, "tools", "check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def check_outputs(run_dir, ops, oracle_sql, check_errors):
    """Compares each operation's check-pass output with its oracle result,
    exactly as tools/check.py does. Oracle results are cached per (data
    set, query, hash of the oracle SQL). Returns {op: failure message}."""
    import duckdb
    import pandas as pd
    tool = load_check_tool()
    con = duckdb.connect()
    for t in tool.TABLES:
        p = os.path.join(DATA, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    cache_dir = os.path.join(ORACLE, os.path.basename(DATA))
    failures = {}
    for op in ops:
        if op in check_errors:
            failures[op] = f"threw: {check_errors[op]}"
            continue
        sql = oracle_sql.get(op)
        if sql is None:
            failures[op] = "no oracle SQL"
            continue
        key = hashlib.sha256(sql.encode()).hexdigest()[:16]
        cached = os.path.join(cache_dir, f"{op}-{key}.pkl")
        try:
            if os.path.isfile(cached):
                exp = pd.read_pickle(cached)
            else:
                exp = con.sql(sql).df()
                os.makedirs(cache_dir, exist_ok=True)
                exp.to_pickle(cached)
            exp = tool.canon(exp)
            got = tool.canon(con.sql(
                f"SELECT * FROM '{os.path.join(run_dir, 'out', op)}/*.parquet'").df())
        except Exception as e:  # a broken output or oracle is a failed check
            failures[op] = f"{type(e).__name__}: {e}"[:300]
            continue
        if list(got.columns) != list(exp.columns):
            failures[op] = f"columns {list(got.columns)} vs {list(exp.columns)}"
        elif len(got) != len(exp):
            failures[op] = f"rows {len(got)} vs {len(exp)}"
        else:
            try:
                pd.testing.assert_frame_equal(got, exp, check_exact=True, check_dtype=False)
            except AssertionError as e:
                failures[op] = " | ".join(str(e).split("\n")[:4])
    return failures


# ---------------------------------------------------------------- report

def wall_s(p):
    return (p["end"] - p["start"]) / 1e6


def median_pass_s(passes):
    """The median pass, built per operation: the sum over operations of each
    one's median time across the passes. With a handful of passes per run
    this is steadier than the median of whole-pass times, because one slow
    operation moves only its own median."""
    by_op = {}
    for p in passes:
        for o in p["ops"]:
            by_op.setdefault(o["op"], []).append((o["end"] - o["start"]) / 1e6)
    return sum(statistics.median(v) for v in by_op.values())


def percentile(xs, p):
    xs = sorted(xs)
    k = (len(xs) - 1) * p / 100.0
    lo, hi = int(k), min(int(k) + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail(xs):
    """The highest of p50..p99.9 with at least ten samples beyond it; with
    fewer than 20 samples, the maximum (p100)."""
    best = 100
    for p in (50, 75, 90, 95, 99, 99.9):
        if len(xs) * (1 - p / 100.0) >= 10:
            best = p
    return best


def trace_layers(result, setups):
    passes = result["trace"]["passes"]
    warm = [p for p in passes if p["index"] > WARMUP_PASSES]
    layers = {}
    spread = {}
    for name, _ in PER_LAYER:
        vals = [p["layers"].get(name, 0.0) for p in warm]
        if vals:
            layers[name] = statistics.median(vals)
            spread[name] = (min(vals), max(vals))
    layers["setup.session_s"] = statistics.median(s["session_s"] for s in setups)
    layers["setup.warmup_s"] = statistics.median(s["warmup_s"] for s in setups)
    batch_ms = [d for p in warm for d in p["batch_ms"]]
    layers["stream.batch_p50_ms"] = float(statistics.median(batch_ms)) if batch_ms else 0.0
    tp = tail(batch_ms)
    layers["stream.batch_tail_ms"] = percentile(batch_ms, tp) if batch_ms else 0.0
    # the warm-up passes are left out, as in wall_s
    untraced = [p for p in result["passes"] if p["index"] > WARMUP_PASSES and not p["traced"]]
    traced = [p for p in result["passes"] if p["index"] > WARMUP_PASSES and p["traced"]]
    layers["trace.overhead_x"] = median_pass_s(traced) / median_pass_s(untraced)
    return layers, spread, (tp, len(batch_ms)), warm


def print_trace_report(workload, layers, spread, tail_info, warm):
    tp, n = tail_info
    print(f"per-layer, median of {len(warm)} traced warm passes of {workload} "
          f"(count spread: min..max over those passes)")
    for name, unit in PER_LAYER:
        lo_hi = spread.get(name)
        extra = f"  [{lo_hi[0]:.6g}..{lo_hi[1]:.6g}]" if lo_hi and unit == "count" else ""
        print(f"  {name:<36} {layers[name]:>14.6g} {unit}{extra}")
    print(f"  stream batch samples: {n}; stream.batch_tail_ms is p{tp}"
          + (" (the maximum: fewer than 20 samples)" if tp == 100 else ""))
    print(f"  tracing overhead: traced warm wall_s / untraced warm wall_s = "
          f"{layers['trace.overhead_x']:.4f}")
    print("self time by span kind (s, median over traced warm passes):")
    kinds = sorted({k for p in warm for k in p["self_s"]})
    for k in kinds:
        print(f"  {k:<8} {statistics.median(p['self_s'].get(k, 0.0) for p in warm):.4f}")
    print("per operation (last traced warm pass):")
    last = warm[-1]["per_op"]
    cols = ["spark.jobs", "spark.stages", "spark.tasks", "stream.batches",
            "executor.busy_s", "scan.bytes", "shuffle.write_bytes", "write.bytes"]
    print("  " + f"{'operation':<32}" + "".join(f"{c.split('.')[-1]:>14}" for c in cols))
    for op in sorted(last):
        print("  " + f"{op:<32}" + "".join(f"{last[op][c]:>14.6g}" for c in cols))


def check_definition():
    """The smoke test's own check: BENCHMARK.json names the workloads and
    metrics this file computes, with the same units."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    problems = []
    if [w["name"] for w in bench["workloads"]] != list(WORKLOADS):
        problems.append("workloads differ")
    for key, ours in (("end_to_end", END_TO_END), ("per_layer", PER_LAYER)):
        if [(m["name"], m["unit"]) for m in bench[key]] != ours:
            problems.append(f"{key} metrics differ")
    return problems


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="run every workload's operations once, with the output check")
    a = ap.parse_args()
    # a terminated run must still stop its JVM (see run_proc)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not a.smoke and not a.workload:
        ap.error("--workload is required unless --smoke is given")

    java = build()
    deadline = time.monotonic() + RUN_DEADLINE_S
    if a.smoke:
        ops = [op for name in WORKLOADS for op in WORKLOADS[name]]
        jvms, seconds, min_passes = 1, 0, 1
    else:
        ops = WORKLOADS[a.workload]
        # the cold pass, the warm-up passes, then at least three measured
        # passes (four when traced: two traced, two untraced)
        jvms, seconds = JVMS, a.seconds
        min_passes = 1 + WARMUP_PASSES + (4 if a.trace else 3)
    names = [q for q, _ in ops]
    op_args = ["--ops", ",".join(f"{q}:{m}" for q, m in ops), "--seed", str(a.seed)]

    # Every JVM but the last sets up and runs the cold pass (set-up only when
    # traced: the traced run reports no cold pass); the last one goes on to
    # the warm passes and the output check.
    results, leftovers, mismatches = [], [], {}
    for k in range(jvms):
        last = k == jvms - 1
        if last:
            mode, args = "run", op_args + ["--seconds", str(seconds), "--min-passes",
                                           str(min_passes), "--trace", str(a.trace), "--check", "1"]
        elif a.trace:
            mode, args = "setup", []
        else:
            mode, args = "run", op_args + ["--seconds", "0", "--min-passes", "1",
                                           "--trace", "0", "--check", "0"]
        run_dir = new_run_dir(a.workload or "smoke")
        rc, res, launched = jvm(java, mode, run_dir, args, max(1, deadline - time.monotonic()))
        if res is None:
            with open(os.path.join(run_dir, "jvm.log"), errors="replace") as f:
                log(f.read()[-4000:])
            shutil.rmtree(run_dir, ignore_errors=True)
            fail(f"benchmark JVM failed (exit {rc})", 1)
        res["setup_s"] = res["ready_ms"] / 1e3 - launched
        if last:
            mismatches = check_outputs(run_dir, names, res["oracle_sql"], res["check_errors"])
        leftovers.append(leftover_bytes(run_dir))
        shutil.rmtree(run_dir, ignore_errors=True)
        results.append(res)
    res = results[-1]

    passes = res["passes"]
    colds = [r["passes"][0] for r in results if r.get("passes")]
    all_passes = [(k, p) for k, r in enumerate(results) for p in r.get("passes", [])]
    threw = [(k, p["index"], o["op"], o["error"]) for k, p in all_passes for o in p["ops"]
             if o["error"]]
    attempted = sum(len(p["ops"]) for _, p in all_passes) + len(names)
    failed = len(threw) + len(mismatches)
    for k, idx, op, err in threw:
        print(f"FAIL {op} (JVM {k + 1}, pass {idx}): {err}")
    for op in names:
        print(f"{'FAIL' if op in mismatches else 'PASS'} {op}"
              + (f": {mismatches[op]}" if op in mismatches else ""))

    warm = passes[1:]
    e2e = {
        "setup_s": statistics.median(r["setup_s"] for r in results),
        "cold_s": median_pass_s(colds),
        "wall_s": median_pass_s(warm[WARMUP_PASSES:] or warm or passes[:1]),
        "peak_rss_mb": res["peak_rss_mb"],
    }
    label = a.workload or "smoke"
    print(f"{label}: seed {a.seed}, {len(results)} JVMs, {len(passes)} passes in the last "
          f"({len(warm)} warm, {WARMUP_PASSES} of them warm-up), {len(names)} operations, "
          f"local[{CPUS}], data {os.path.basename(DATA)}")
    for name, unit in ([] if a.smoke else END_TO_END):
        print(f"  {name:<14} {e2e[name]:>12.4f} {unit}")
    print(f"  {'failed_frac':<14} {failed / attempted:>12.4f} ({failed} of {attempted} operations)")
    print(f"  setups_s       {[round(r['setup_s'], 3) for r in results]}")
    print(f"  cold passes s  {[round(wall_s(p), 3) for p in colds]}")
    print(f"  warm passes s  {[round(wall_s(p), 3) for p in warm]}")
    print(f"  left behind    {sum(leftovers)} bytes in the run directories (removed)")
    print(f"  {'operation':<32} {'cold build+exec ms':>20} {'warm median build+exec ms':>28}")
    for op in names:
        runs = sorted(((p["index"], o) for p in passes for o in p["ops"] if o["op"] == op),
                      key=lambda r: (r[0] > 0, r[1]["end"] - r[1]["start"]))
        def ms(o):
            return f"{(o['built'] - o['start']) / 1e3:.0f}+{(o['end'] - o['built']) / 1e3:.0f}"
        warm_ops = [o for i, o in runs if i > WARMUP_PASSES] or [o for i, o in runs if i > 0]
        print(f"  {op:<32} {ms(runs[0][1]):>20} "
              f"{ms(warm_ops[len(warm_ops) // 2]) if warm_ops else '-':>28}")

    if a.trace:
        layers, spread, tail_info, warm_traced = trace_layers(res, results)
        print_trace_report(label, layers, spread, tail_info, warm_traced)
        os.makedirs(RESULTS, exist_ok=True)
        dump = os.path.join(RESULTS, f"spans-{label}-seed{a.seed}.json")
        with open(dump, "w") as f:
            json.dump({"workload": label, "seed": a.seed, "spans": [
                dict(zip(("id", "parent", "kind", "name", "start_us", "end_us"),
                         (s["id"], s["parent"], s["kind"], s["name"], s["start"], s["end"])))
                for s in res["trace"]["spans"]]}, f)
        print(f"  spans written to {os.path.relpath(dump, ROOT)}")
        metrics = {n: {"value": layers[n], "unit": u} for n, u in PER_LAYER}
    elif a.smoke:
        metrics = {}
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    if a.smoke:
        problems = check_definition()
        for p in problems:
            print(f"FAIL BENCHMARK.json: {p}")
        if failed or problems:
            sys.exit(1)


if __name__ == "__main__":
    main()
