#!/usr/bin/env python3
"""Per-query cost survey of the full query sets the workloads are drawn from.

    python3 perfbench/survey.py run                  # ~10 min; writes results/survey.json
    python3 perfbench/survey.py report [RUN_OUT ...] # writes results/survey.md

`run` builds like `run.py`, then runs the harness once per candidate set,
one JVM each: the non-streaming q* queries, the non-streaming x* queries
and the streaming drains. Each JVM sets up, makes a cold pass and one warm
pass in name order (staged artifacts built in the cold pass stay for the
warm one), and records every query's build and action times from the
harness's own per-query samples.

`report` puts every workload member in its category, next to the whole
category: count, cold and warm seconds, the share of warm time spent in
the query function (build: dtsx parse, IR, package run, frame building)
and where the member's warm time ranks. RUN_OUT are outputs of
`run.py --trace 0`; their `queries` lines give each member's share of its
workload's own warm pass, where catalog and staging are cleared as the
workload does.
"""
import glob
import json
import os
import re
import statistics
import sys

import run as R

RESULTS = os.path.join(R.HERE, "results")
SURVEY = os.path.join(RESULTS, "survey.json")
# the file writers and the queries that stage graft_* artifacts in tmpdir
WRITERS = {"q38_csv_roundtrip", "q62_jsonl_roundtrip", "q82_orc_roundtrip", "q87_compaction_maintenance"}
STAGED = {"q50_bucketed_join", "x45_bucketed_snapshot_diff", "x48_ann_ivf_persisted",
          "x85_ivf_delta_append", "x100_zipf_spectrum", "x107_sparse_retrieval", "x108_pq_ann",
          "x111_pq_frontier"}
# the categories each workload's members are drawn from
DRAWS = {"migration": {"dtsx", "dbt", "writer", "staged", "stream"}, "corpus": {"corpus", "staged"}}
CATEGORIES = [
    ("dtsx", "q* dtsx package runs (definition reads a .dtsx resource)"),
    ("dbt", "other q*: hand-built dbt-model queries"),
    ("writer", "file writers"),
    ("staged", "queries that stage graft_* artifacts"),
    ("stream", "streaming drains"),
    ("corpus", "other x*: training-data operators"),
]


def dtsx_queries():
    """q* queries whose definition reads a `.dtsx` package resource."""
    found = set()
    for path in glob.glob(os.path.join(R.ROOT, "src/main/scala/graft/*.scala")):
        with open(path) as f:
            src = f.read()
        for part in re.split(r"\n  (?:private |override )?(?:def|val|lazy val) ", src)[1:]:
            m = re.match(r"(q\d+_\w+)\(", part)
            if m and '.dtsx"' in part:
                found.add(m.group(1))
    return found


def category(name, dtsx):
    if "_stream_" in name:
        return "stream"
    if name in STAGED:
        return "staged"
    if name in WRITERS:
        return "writer"
    if name.startswith("q"):
        return "dtsx" if name in dtsx else "dbt"
    return "corpus"


def all_queries(classpath):
    cp = os.pathsep.join(classpath + [os.path.join(R.SPARK_JARS, "*")])
    p = R.subprocess.run(["java", "-cp", cp, "perfbench.ListQueries"], capture_output=True, text=True)
    if p.returncode != 0:
        raise R.BenchError("listing queries failed:\n" + p.stderr[-2000:])
    return p.stdout.split()


def survey():
    build_dir = os.path.abspath(os.path.join(R.ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build"))
    classpath, source_key = R.build(build_dir)
    names = all_queries(classpath)
    sets = {
        "q": [n for n in names if n.startswith("q") and "_stream_" not in n],
        "x": [n for n in names if n.startswith("x") and "_stream_" not in n],
        "stream": [n for n in names if "_stream_" in n],
    }
    cores = len(os.sched_getaffinity(0))
    out = {"commit": R.commit(), "source_digest": source_key, "cores": cores, "heap": R.HEAP, "sets": {}}
    for label, qs in sets.items():
        run_dir = os.path.join(build_dir, "runs", f"survey-{label}-{os.getpid()}")
        R.shutil.rmtree(run_dir, ignore_errors=True)
        os.makedirs(os.path.join(run_dir, "tmp"))
        result = os.path.join(run_dir, "result.json")
        args = ["--data", os.path.join(R.HERE, "data", "sf0.1"), "--out", result,
                "--trace-out", os.path.join(run_dir, "trace.json"), "--run-dir", run_dir,
                "--queries", ",".join(qs), "--cold", ",".join(qs), "--stage", "", "--clear", "0",
                "--seconds", "0", "--min-passes", "1", "--check", "0", "--setup-only", "0",
                "--trace", "0", "--cores", str(cores)]
        R.log(f"[survey] {label}: {len(qs)} queries")
        try:
            R.run_jvm(classpath, args, run_dir, 900)
            with open(result) as f:
                raw = json.load(f)
        finally:
            R.shutil.rmtree(run_dir, ignore_errors=True)
        per = {}
        for s in raw["samples"]:
            if s["error"]:
                raise R.BenchError(f"{s['name']} failed: {s['error']}")
            kind = "cold" if s["pass"] == 0 else "warm"
            q = per.setdefault(s["name"], {})
            q[kind + "_build_s"] = s["build_s"]
            q[kind + "_action_s"] = s["action_s"]
        out["sets"][label] = {"setup_s": raw["setup_s"], "queries": per,
                              "passes": [{k: p[k] for k in ("pass", "wall_s", "write_bytes", "staging_builds")}
                                         for p in raw["passes"]]}
    os.makedirs(RESULTS, exist_ok=True)
    with open(SURVEY, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    R.log(f"[survey] wrote {os.path.relpath(SURVEY, R.ROOT)}")


def workload_shares(paths):
    """Median over runs of each member's share of its workload's warm pass,
    the median share of build time in that pass, and the runs per workload."""
    shares, builds = {}, {}
    for path in paths:
        with open(path) as f:
            lines = f.read().splitlines()
        head = next(line for line in lines if line.startswith("perfbench workload="))
        workload = head.split()[1].split("=", 1)[1]
        per = json.loads(next(line.strip()[len("queries "):] for line in lines
                              if line.strip().startswith("queries ")))
        total = sum(b + a for _, b, a in per.values())
        for q, (_, b, a) in per.items():
            shares.setdefault(workload, {}).setdefault(q, []).append((b + a) / total)
        builds.setdefault(workload, []).append(sum(b for _, b, _ in per.values()) / total)
    return ({w: {q: statistics.median(v) for q, v in qs.items()} for w, qs in shares.items()},
            {w: (statistics.median(v), len(v)) for w, v in builds.items()})


def report(run_outputs):
    with open(SURVEY) as f:
        sv = json.load(f)
    with open(os.path.join(R.HERE, "workloads.json")) as f:
        workloads = json.load(f)
    dtsx = dtsx_queries()
    rows = {}
    for data in sv["sets"].values():
        for q, t in data["queries"].items():
            cold = t["cold_build_s"] + t["cold_action_s"]
            warm = t["warm_build_s"] + t["warm_action_s"]
            rows[q] = {"cat": category(q, dtsx), "cold": cold, "warm": warm, "build": t["warm_build_s"]}
    by_cat = {c: [q for q in rows if rows[q]["cat"] == c] for c, _ in CATEGORIES}
    shares, own_build = workload_shares(run_outputs)

    def totals(qs):
        cold = sum(rows[q]["cold"] for q in qs)
        warm = sum(rows[q]["warm"] for q in qs)
        build = sum(rows[q]["build"] for q in qs)
        return cold, warm, (build / warm if warm else 0.0)

    md = ["# Per-query cost survey", "",
          f"Made by `python3 perfbench/survey.py run` at commit `{(sv['commit'] or '')[:7]}` "
          f"(`local[{sv['cores']}]`, heap {sv['heap']}): one JVM per candidate set, a cold pass "
          "and one warm pass in name order, each query timed from its `SparkEntry.queries` call "
          "to the end of its noop write. Raw times: `survey.json`. Build = time in the query "
          "function (dtsx parse, IR, package run, frame building); the rest is the noop write "
          "(Catalyst, codegen, execution).", ""]
    md += ["## Categories: whole set against the workload members", "",
           "| category | queries | cold s | warm s | warm build share | migration members | corpus members |",
           "|---|---|---|---|---|---|---|"]
    for c, desc in CATEGORIES:
        cold, warm, b = totals(by_cat[c])
        cells = []
        for w in ("migration", "corpus"):
            mem = [q for q in workloads.get(w, {}).get("queries", []) if rows.get(q, {}).get("cat") == c]
            if mem:
                mc, mw, mb = totals(mem)
                cells.append(f"{len(mem)}: cold {mc:.2f} s, warm {mw:.2f} s, build {mb:.0%}")
            else:
                cells.append("—")
        md.append(f"| {c} ({desc}) | {len(by_cat[c])} | {cold:.1f} | {warm:.1f} | {b:.0%} | "
                  + " | ".join(cells) + " |")
    md.append("")
    for w, spec in workloads.items():
        mem = spec["queries"]
        _, mwarm, mb = totals(mem)
        cats = [c for c, _ in CATEGORIES if c in DRAWS[w]]
        _, uwarm, ub = totals([q for c in cats for q in by_cat[c]])
        md += [f"## `{w}` members", "",
               f"Share of warm time by category, in the categories `{w}` draws from "
               f"({', '.join(cats)}) against its members:", "",
               "| category | whole categories | members |", "|---|---|---|"]
        for c in cats:
            md.append(f"| {c} | {totals(by_cat[c])[1] / uwarm:.0%} | "
                      f"{totals([q for q in mem if rows[q]['cat'] == c])[1] / mwarm:.0%} |")
        md += [f"| warm build share | {ub:.0%} | {mb:.0%} |", "",
               (f"Share of the workload's own warm pass: median over {own_build[w][1]} runs of "
                "`run.py` (catalog and staging cleared each pass where the workload does); "
                f"build share of that pass {own_build[w][0]:.0%}."
                if w in shares else "No `run.py` outputs given for the workload's own warm pass."), "",
               "| member | category | cold s | warm s | warm build share | warm rank in category | share of survey warm | share of workload warm pass |",
               "|---|---|---|---|---|---|---|---|"]
        for q in mem:
            r = rows[q]
            peers = sorted(rows[p]["warm"] for p in by_cat[r["cat"]])
            rank = sum(1 for x in peers if x <= r["warm"]) / len(peers)
            own = shares.get(w, {}).get(q)
            md.append(f"| {q} | {r['cat']} | {r['cold']:.2f} | {r['warm']:.2f} | "
                      f"{r['build'] / r['warm']:.0%} | p{100 * rank:.0f} of {len(peers)} | "
                      f"{r['warm'] / mwarm:.1%} | {'' if own is None else f'{own:.1%}'} |")
        md.append("")
    out = os.path.join(RESULTS, "survey.md")
    with open(out, "w") as f:
        f.write("\n".join(md))
    print("\n".join(md))


if __name__ == "__main__":
    try:
        if sys.argv[1:2] == ["run"]:
            survey()
        elif sys.argv[1:2] == ["report"]:
            report(sys.argv[2:])
        else:
            sys.exit(__doc__)
    except R.BenchError as e:
        R.log(f"[survey] error: {e}")
        sys.exit(2)
