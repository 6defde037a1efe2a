#!/usr/bin/env python3
"""Records sets of benchmark runs and compares two sets of the same code.

    python3 perfbench/sets.py add NAME NOTE RUN_OUT ...
    python3 perfbench/sets.py compare NAME_A NAME_B

RUN_OUT are standard outputs of `run.py --trace 0`, one per run. `add`
stores set NAME in `results/sets.json`: per workload, the seeds, members,
every end-to-end value, its median, quartiles (`statistics.quantiles(n=4)`)
and spread (Q3 - Q1) / median, and a few run conditions. `compare` prints,
for every workload and end-to-end metric both sets have, the spread of each
set and the change of the median from A to B as a share of A's median,
against the metric's bound in `BENCHMARK.json` (a change only counts
against the bound in the metric's worse direction), and stores the table.
"""
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
SETS = os.path.join(HERE, "results", "sets.json")


def load():
    if os.path.exists(SETS):
        with open(SETS) as f:
            return json.load(f)
    return {"sets": {}, "comparisons": []}


def save(db):
    with open(SETS, "w") as f:
        json.dump(db, f, indent=1)


def parse(path):
    with open(path) as f:
        lines = f.read().strip().splitlines()
    head = next(line for line in lines if line.startswith("perfbench workload="))
    fields = dict(x.split("=", 1) for x in head.split()[1:])
    cond = json.loads(next(line.strip()[len("conditions "):] for line in lines
                           if line.strip().startswith("conditions ")))
    return fields, cond, json.loads(lines[-1])


def spread(xs):
    q1, _, q3 = statistics.quantiles(xs, n=4)
    med = statistics.median(xs)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med, "values": xs}


def add(name, note, paths):
    runs = {}
    for p in paths:
        fields, cond, result = parse(p)
        runs.setdefault(fields["workload"], []).append((int(fields["seed"]), cond, result))
    entry = {"note": note, "workloads": {}}
    for w, rs in sorted(runs.items()):
        rs.sort(key=lambda r: r[0])
        values = {}
        for _, _, result in rs:
            for k, v in result["metrics"].items():
                values.setdefault(k, []).append(v["value"])
        entry["workloads"][w] = {
            "seeds": [r[0] for r in rs],
            "members": sorted(rs[0][1]["order"]),
            "commit": rs[0][1]["commit"],
            "all_correct": all(r[2]["correct"] and r[2]["failed"] == 0 for r in rs),
            "end_to_end": {k: spread(xs) for k, xs in values.items() if len(xs) >= 2},
            "run_conditions": [{"seed": s, "steal_share": c["steal_share"],
                                "loadavg_start": c["loadavg_start"], "loadavg_end": c["loadavg_end"]}
                               for s, c, _ in rs],
        }
    db = load()
    db["sets"][name] = entry
    save(db)
    for w, e in entry["workloads"].items():
        for k, v in e["end_to_end"].items():
            print(f"{name:10} {w:10} {k:14} n={len(v['values']):2} median {v['median']:10.4f} "
                  f"spread {v['spread']:.4f}")


def compare(a, b):
    db = load()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = {m["name"]: m for m in json.load(f)["end_to_end"]}
    rows = []
    for w, ea in db["sets"][a]["workloads"].items():
        eb = db["sets"][b]["workloads"].get(w)
        if not eb:
            continue
        for k, ma in ea["end_to_end"].items():
            mb = eb["end_to_end"].get(k)
            if k not in spec or not mb:
                continue
            change = (mb["median"] - ma["median"]) / ma["median"]
            worse = change if spec[k]["better"] == "lower" else -change
            bound = spec[k]["bound"]
            rows.append({"workload": w, "metric": k, "spread_a": ma["spread"], "spread_b": mb["spread"],
                         "median_a": ma["median"], "median_b": mb["median"], "change": change,
                         "bound": bound, "within": worse <= bound})
            print(f"{w:10} {k:14} spread {ma['spread']:.3f} / {mb['spread']:.3f}  median "
                  f"{ma['median']:10.4f} -> {mb['median']:10.4f} ({change:+.3f}, bound {bound})"
                  f"{'' if worse <= bound else '  OUTSIDE BOUND'}")
    db["comparisons"] = [c for c in db["comparisons"] if (c["a"], c["b"]) != (a, b)]
    db["comparisons"].append({"a": a, "b": b, "rows": rows})
    save(db)


if __name__ == "__main__":
    if len(sys.argv) >= 5 and sys.argv[1] == "add":
        add(sys.argv[2], sys.argv[3], sys.argv[4:])
    elif len(sys.argv) == 4 and sys.argv[1] == "compare":
        compare(sys.argv[2], sys.argv[3])
    else:
        sys.exit(__doc__)
