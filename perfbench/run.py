#!/usr/bin/env python3
"""End-to-end benchmark of the graft engine over the sf0.1 tables.

Usage (from the repository root):

    python3 perfbench/run.py --workload migration --seed 1 --seconds 12 --trace 0

Builds the library from `src/main/scala` and the harness from
`perfbench/src` with the Scala compiler that ships in the Spark jars
(cached under `$CARGO_TARGET_DIR`, default `.bench_build`), runs one
workload in one JVM, checks every query's output fingerprint against
`perfbench/expected.json`, and prints one JSON object as its last line.
`--trace 1` registers listeners, runs the layer probes and prints the
per-layer metrics instead; its spans are written under the build dir.
"""
import argparse
import glob
import hashlib
import json
import os
import random
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import metrics as M  # noqa: E402


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        return m.group(1) if m else ""
    except OSError:
        return ""


SPARK_JARS = spark_jars()
HEAP = "3g"
RUN_LIMIT_S = 170
# set-ups per untraced run, each timed from the start of its own JVM: the
# main JVM's and SETUPS - 1 set-up-only JVMs; setup_s is their median
SETUPS = 2
# warm passes per run at least: a traced run has three warm-up passes and
# four ABBA passes (Harness.TraceWarmUps)
MIN_PASSES = {0: 3, 1: 7}
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BenchError(Exception):
    pass


def log(msg):
    print(msg, file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def scalac(out_dir, sources, classpath):
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(SPARK_JARS, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp]
    if classpath:
        cmd += ["-cp", classpath]
    p = subprocess.run(cmd + sources, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BenchError("compile failed:\n" + p.stdout[-4000:])
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)


def build(build_dir):
    """Compile library and harness unless a build of the same sources
    exists. Returns the classpath entries."""
    app_src = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    resources = os.path.join(ROOT, "src/main/resources")
    if not app_src or not os.path.isdir(resources):
        raise BenchError("library sources not found under src/main (run from a full checkout)")
    if not os.path.isdir(SPARK_JARS):
        raise BenchError(f"Spark jars not found ({SPARK_JARS!r}); set SPARK_HOME")
    bench_src = sorted(glob.glob(os.path.join(HERE, "src/*.scala")))
    os.makedirs(build_dir, exist_ok=True)
    app_key = digest(app_src)
    app_dir = os.path.join(build_dir, "app-" + app_key)
    bench_dir = os.path.join(build_dir, "bench-" + digest(app_src + bench_src))
    if not os.path.isdir(app_dir):
        t0 = time.time()
        scalac(app_dir, app_src, None)
        log(f"[perfbench] built library in {time.time() - t0:.1f} s")
    if not os.path.isdir(bench_dir):
        scalac(bench_dir, bench_src, app_dir)
    return [bench_dir, app_dir, resources], app_key


# ---------------------------------------------------------------- run conditions

def read(path):
    try:
        with open(path) as f:
            return f.read()
    except OSError:
        return ""


def cpu_ticks():
    fields = read("/proc/stat").split("\n", 1)[0].split()[1:]
    return [int(x) for x in fields] if fields else []


def conditions():
    mem = {}
    for line in read("/proc/meminfo").splitlines():
        k, _, v = line.partition(":")
        mem[k] = v.strip()
    return {"loadavg": " ".join(read("/proc/loadavg").split()[:3]),
            "mem_available": mem.get("MemAvailable", ""),
            "cpu": cpu_ticks()}


def steal_share(a, b):
    """Share of CPU time stolen by the hypervisor between two /proc/stat reads."""
    if len(a) < 8 or len(b) < 8:
        return None
    d = [y - x for x, y in zip(a, b)]
    total = sum(d[:8])
    return d[7] / total if total > 0 else 0.0


def commit():
    try:
        p = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True)
        if p.returncode == 0:
            return p.stdout.strip()
    except OSError:
        pass
    return None


# ---------------------------------------------------------------- the JVM

def run_jvm(classpath, args, run_dir, limit_s):
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", os.pathsep.join(classpath + [os.path.join(SPARK_JARS, "*")]),
            "perfbench.Harness"] + args
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=run_dir,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=limit_s)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise BenchError(f"run exceeded {limit_s:.0f} s; log tail:\n" + read(log_path)[-3000:])
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if code != 0:
        raise BenchError(f"JVM exited with {code}; log tail:\n" + read(log_path)[-3000:])


def setup_only(classpath, jvm_args, run_dir, limit_s):
    """Seconds from JVM start until a fresh JVM in `run_dir` has set up."""
    os.makedirs(os.path.join(run_dir, "tmp"))
    out = os.path.join(run_dir, "setup.json")
    args = list(jvm_args)
    for key, value in (("--out", out), ("--run-dir", run_dir), ("--setup-only", "1"), ("--trace", "0")):
        args[args.index(key) + 1] = value
    run_jvm(classpath, args, run_dir, limit_s)
    with open(out) as f:
        return json.load(f)["setup_s"]


# ---------------------------------------------------------------- metrics

def end_to_end(raw, warm_passes, setups):
    samples = raw["samples"]
    lat = lambda s: s["build_s"] + s["action_s"]  # noqa: E731
    cold = sum(lat(s) for s in samples if s["pass"] == 0)
    warm = [sum(lat(s) for s in samples if s["pass"] == p) for p in warm_passes]
    per_query = [lat(s) for s in samples if s["pass"] in warm_passes]
    tail, pct, n = M.tail(per_query)
    writes = [p["write_bytes"] / M.MB for p in raw["passes"] if p["pass"] in warm_passes]
    cpu = [p["cpu_s"] for p in raw["passes"] if p["pass"] in warm_passes]
    values = {
        "setup_s": M.median(setups),
        "cold_wall_s": cold,
        "warm_wall_s": M.median(warm),
        "warm_cpu_s": M.median(cpu),
        # Harrell-Davis, like the tail: the middle of a dozen queries often
        # falls in a gap between two of them, where the sample median jumps
        "query_p50_s": M.harrell_davis(sorted(per_query), 0.5) if per_query else 0.0,
        "query_tail_s": tail,
        "peak_rss_mb": raw["peak_rss_kb"] / 1024.0,
        "write_mb": M.median(writes),
    }
    notes = {"query_tail_s": f"p{pct:.1f} of {n} warm samples, 10 beyond it",
             "setup_s": "median of " + ", ".join(f"{x:.3f}" for x in setups) + ", each from JVM start",
             "warm_wall_s": f"median of {len(warm)} warm passes"}
    return values, notes


def per_layer(raw, trace, cores):
    """Per-layer metrics from the traced warm passes (medians per pass),
    the cold pass (codegen) and the layer probes."""
    passes = {p["pass"]: p for p in raw["passes"]}
    traced = [p for p, v in passes.items() if p > 0 and v["traced"]]
    untraced = [p for p, v in passes.items() if p > 0 and not v["traced"] and not v["warm_up"]]
    counters = trace["counters"]
    samples = raw["samples"]

    def per_pass(key, scale=1.0):
        return M.median([counters.get(f"p{p}", {}).get(key, 0.0) * scale for p in traced])

    def pass_sum(p, field):
        return sum(s[field] for s in samples if s["pass"] == p)

    tree = M.SpanTree(trace["spans"])
    tasks_by_bucket = {}
    for b, s, e in trace["tasks"]:
        tasks_by_bucket.setdefault(b, []).append((s, e))

    lat = {(s["pass"], s["name"]): s["build_s"] + s["action_s"] for s in samples}
    idle, levels, worst = [], [], 0.0
    for p in traced:
        bucket = f"p{p}"
        tasks = tasks_by_bucket.get(bucket, [])
        qspans = [s for s in trace["spans"] if s[2] == "query" and s[4] == bucket]
        actions = [s for s in trace["spans"] if s[2] == "action" and s[4] == bucket]
        idle.append(sum(M.idle_in((a[5], a[6]), tasks) for a in actions) / 1e6)
        lv = [0.0] * 4
        for q in qspans:
            parts = tree.level_self_times(q[0], M.QUERY_LEVELS)
            # the levels against the query's measured latency, not its span
            worst = max(worst, abs(sum(parts) / 1e6 - lat[(p, q[3])]))
            lv = [a + b for a, b in zip(lv, parts)]
        levels.append([x / 1e6 for x in lv])

    action_s = M.median([pass_sum(p, "action_s") for p in traced])
    task_s = per_pass("task_ms", 1e-3)
    wall = lambda ps: M.median([pass_sum(p, "build_s") + pass_sum(p, "action_s") for p in ps])  # noqa: E731
    cold = passes[0]
    stage_n, stage_b = raw["setup_staging"]
    warm_builds = M.median([passes[p]["staging_builds"] for p in passes if p > 0])
    warm_bytes = M.median([passes[p]["staging_bytes"] for p in passes if p > 0])

    batches = [b for b in trace["batches"] if b["bucket"] in {f"p{p}" for p in traced}]
    source = "workload"
    if not batches:
        batches = [b for b in trace["batches"] if b["bucket"] == "probe"]
        source = "probe"
    bm = lambda k: M.median([b[k] for b in batches])  # noqa: E731
    batch_ms = sum(b["batch_ms"] for b in batches)

    out = {
        "query.build_s": M.median([pass_sum(p, "build_s") for p in traced]),
        "query.action_s": action_s,
        "query.build_jobs": per_pass("build_jobs"),
        "catalyst.analysis_ms": per_pass("catalyst_analysis_ms"),
        "catalyst.optimization_ms": per_pass("catalyst_optimization_ms"),
        "catalyst.planning_ms": per_pass("catalyst_planning_ms"),
        "catalyst.executions": per_pass("catalyst_executions"),
        "codegen.compile_ms": cold["codegen_ms"],
        "codegen.classes": cold["codegen_classes"],
        "sched.jobs": per_pass("jobs"),
        "sched.stages": per_pass("stages"),
        "sched.tasks": per_pass("tasks"),
        "sched.driver_idle_s": M.median(idle),
        "exec.task_s": task_s,
        "exec.deser_s": per_pass("deser_ms", 1e-3),
        "exec.busy_ratio": per_pass("action_task_ms", 1e-3) / (action_s * cores) if action_s else 0.0,
        "exec.input_mb": per_pass("input_bytes", 1.0 / M.MB),
        "exec.output_mb": per_pass("output_bytes", 1.0 / M.MB),
        "exec.spill_mb": per_pass("spill_disk_bytes", 1.0 / M.MB),
        "shuffle.write_mb": per_pass("shuffle_write_bytes", 1.0 / M.MB),
        "shuffle.read_mb": per_pass("shuffle_read_bytes", 1.0 / M.MB),
        "staging.builds": stage_n + warm_builds,
        "staging.mb": (stage_b + warm_bytes) / M.MB,
        "streaming.batches": len(batches) / (len(traced) if source == "workload" else 1),
        "streaming.batch_p50_ms": bm("batch_ms"),
        "streaming.add_batch_ms": bm("add_batch_ms"),
        "streaming.plan_ms": bm("plan_ms"),
        "streaming.commit_ms": bm("commit_ms"),
        "streaming.state_commit_ms": bm("state_commit_ms"),
        "streaming.state_rows": max([b["state_rows"] for b in batches], default=0),
        "streaming.rows_per_s": sum(b["input_rows"] for b in batches) / (batch_ms / 1e3) if batch_ms else 0.0,
        "jvm.gc_s": M.median([passes[p]["gc_ms"] / 1e3 for p in traced]),
        "jvm.heap_peak_mb": raw["heap_peak_bytes"] / M.MB,
        "trace.self_query_s": M.median([x[0] for x in levels]),
        "trace.self_build_action_s": M.median([x[1] for x in levels]),
        "trace.self_job_s": M.median([x[2] for x in levels]),
        "trace.self_stage_s": M.median([x[3] for x in levels]),
        "trace.overhead_s": wall(traced) - wall(untraced),
    }
    for k, v in raw["probes"].items():
        if k in PROBE_METRICS:
            out[k] = v
    notes = {"streaming": f"batches from the {source}",
             "self times": f"query, build/action, job and stage levels add up to each query's "
                           f"measured latency (build_s + action_s) within {worst * 1e3:.3f} ms",
             "pipeline.plan_ms": f"dry runs of {raw['probes'].get('pipeline.planned_packages', 0):.0f} packages",
             "trace.overhead_s": f"traced warm pass median {wall(traced):.3f} s minus untraced {wall(untraced):.3f} s; "
                                 "passes " + ", ".join(f"{p} {'traced' if p in traced else 'untraced'} {wall([p]):.3f} s"
                                                       for p in sorted(traced + untraced))}
    return out, notes


PROBE_METRICS = {
    "parser.parse_ms", "pipeline.plan_ms", "patterns.detect_ms", "patterns.exec_ms",
    "validate.check_ms", "functions.jaccard_ns_row", "functions.sq_dist_ns_row",
    "functions.qdot_ns_row", "functions.minhash_ns_row", "functions.hashed_shingles_ns_row",
    "functions.lang_id_ns_row", "functions.nfc_ns_row", "functions.pq_argmin_ns_row",
}


def check(raw, queries, expected):
    """Count failed executions and wrong or missing fingerprints."""
    failures = []
    for s in raw["samples"]:
        if s["error"]:
            failures.append(f"{s['name']} pass {s['pass']}: {s['error']}")
    for q in queries:
        got = raw["fingerprints"].get(q)
        want = expected.get(q)
        if want is None:
            failures.append(f"{q}: no expected fingerprint")
        elif got is None:
            if not any(s["name"] == q and s["error"] for s in raw["samples"]):
                failures.append(f"{q}: no fingerprint")
        elif list(got) != list(want):
            failures.append(f"{q}: fingerprint {got} != expected {want}")
    return len(raw["samples"]), failures


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.time()

    with open(os.path.join(HERE, "workloads.json")) as f:
        workloads = json.load(f)
    if args.workload not in workloads:
        raise BenchError(f"unknown workload {args.workload}; have {sorted(workloads)}")
    wl = workloads[args.workload]
    with open(os.path.join(HERE, "expected.json")) as f:
        expected = json.load(f)

    build_dir = os.path.abspath(os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build"))
    t0 = time.time()
    classpath, source_key = build(build_dir)
    build_s = time.time() - t0

    queries = list(wl["queries"])
    random.Random(args.seed).shuffle(queries)
    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(build_dir, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    trace_path = os.path.join(build_dir, "traces", f"{args.workload}-seed{args.seed}.json")
    os.makedirs(os.path.dirname(trace_path), exist_ok=True)
    result_path = os.path.join(run_dir, "result.json")
    jvm_args = [
        "--data", os.path.join(HERE, "data", "sf0.1"),
        "--out", result_path, "--trace-out", trace_path, "--run-dir", run_dir,
        "--queries", ",".join(queries), "--cold", ",".join(wl["queries"]),
        "--stage", ",".join(wl["stage"]),
        "--clear", "1" if wl["clear_each_pass"] else "0",
        "--seconds", str(args.seconds), "--min-passes", str(MIN_PASSES[args.trace]),
        "--check", "1", "--setup-only", "0", "--trace", str(args.trace),
        "--cores", str(cores),
    ]
    env_start = conditions()
    # a run must end within RUN_LIMIT_S, not counting a build it made
    left = lambda: RUN_LIMIT_S - (time.time() - started - build_s)  # noqa: E731
    try:
        run_jvm(classpath, jvm_args, run_dir, left())
        with open(result_path) as f:
            raw = json.load(f)
        setups = [raw["setup_s"]]
        # further set-ups, each in a fresh JVM over a fresh run dir, so each
        # pays process start, class loading and the first Spark jobs again
        # (a traced run reports no setup_s, so it makes no more)
        for k in range(2, 1 if args.trace else SETUPS + 1):
            setups.append(setup_only(classpath, jvm_args, os.path.join(run_dir, f"setup{k}"), left()))
    finally:
        env_end = conditions()
        log_dir = os.path.join(build_dir, "logs")
        os.makedirs(log_dir, exist_ok=True)
        if os.path.exists(os.path.join(run_dir, "jvm.log")):
            shutil.copy(os.path.join(run_dir, "jvm.log"),
                        os.path.join(log_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.log"))
        shutil.rmtree(run_dir, ignore_errors=True)

    attempted, failures = check(raw, wl["queries"], expected)
    warm = sorted(p["pass"] for p in raw["passes"] if p["pass"] > 0 and not p["traced"])
    if not args.trace:
        warm = sorted(p["pass"] for p in raw["passes"] if p["pass"] > 0)
    values, notes = end_to_end(raw, warm, setups)
    units = {"setup_s": "s", "cold_wall_s": "s", "warm_wall_s": "s", "warm_cpu_s": "s", "query_p50_s": "s",
             "query_tail_s": "s", "peak_rss_mb": "mb", "write_mb": "mb"}

    print(f"perfbench workload={args.workload} seed={args.seed} trace={args.trace} "
          f"queries={len(queries)} warm_passes={len(warm)} cores={cores} heap={HEAP}")
    for k, v in values.items():
        print(f"  {k:<14} {v:12.4f} {units[k]:<3} {notes.get(k, '')}")
    print(f"  {'fail_ratio':<14} {len(failures) / attempted:12.4f}     "
          f"{len(failures)} of {attempted} query runs")
    for f_ in failures:
        print("  FAIL " + f_)
    cond = {
        "nproc": cores, "heap": HEAP, "commit": commit(), "source_digest": source_key,
        "loadavg_start": env_start["loadavg"], "loadavg_end": env_end["loadavg"],
        "steal_share": steal_share(env_start["cpu"], env_end["cpu"]),
        "mem_available_start": env_start["mem_available"],
        "mem_available_end": env_end["mem_available"],
        "jvm_gc_s": raw["gc_ms"] / 1e3,
        "order": queries,
    }
    print("  conditions " + json.dumps(cond))
    # per query: cold latency, then median warm build and action times
    per_query = {q: [round(sum(x["build_s"] + x["action_s"] for x in raw["samples"]
                               if x["pass"] == 0 and x["name"] == q), 6),
                     round(M.median([x["build_s"] for x in raw["samples"] if x["pass"] in warm and x["name"] == q]), 6),
                     round(M.median([x["action_s"] for x in raw["samples"] if x["pass"] in warm and x["name"] == q]), 6)]
                 for q in wl["queries"]}
    print("  queries " + json.dumps(per_query))

    if args.trace:
        with open(trace_path) as f:
            trace = json.load(f)
        layer, lnotes = per_layer(raw, trace, cores)
        layer_units = {k["name"]: k["unit"] for k in bench_spec()["per_layer"]}
        for k, v in layer.items():
            print(f"  {k:<34} {v:14.4f} {layer_units.get(k, '')}")
        for k, v in lnotes.items():
            print(f"  note {k}: {v}")
        print(f"  spans written to {os.path.relpath(trace_path, ROOT)}")
        out_metrics = {k: {"value": v, "unit": layer_units[k]} for k, v in layer.items()
                       if k in layer_units}
    else:
        out_metrics = {k: {"value": v, "unit": units[k]} for k, v in values.items()}
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": out_metrics}))


def bench_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


if __name__ == "__main__":
    try:
        main()
    except BenchError as e:
        log(f"[perfbench] error: {e}")
        sys.exit(2)
