#!/usr/bin/env python3
"""Layer report for a traced benchmark run.

    python3 perfbench/layers.py <trace.json>                 # one run
    python3 perfbench/layers.py <parent.json> <change.json>  # diff by layer

A trace is written by `run.py --trace 1` to
`perfbench/.work/trace-<workload>-<seed>.json`. Figures cover the
measured passes and are per pass. A layer's self time is the time its
spans cover minus the time their child spans cover; `jobs` / `job_s` /
`tasks` / `task_s` are the Spark jobs the layer's spans launched and
their tasks. The `sql` row is Catalyst's analysis, optimization and
physical planning time, which runs inside the other layers' spans.
"""
import json
import sys
from collections import defaultdict

FIELDS = ("self_s", "calls", "jobs", "job_s", "tasks", "task_s")


def layers(path):
    with open(path) as f:
        t = json.load(f)
    spans = {s["id"]: s for s in t["spans"]}
    measured = {s["id"] for s in t["spans"] if s["layer"] == "op" and s["phase"] == "measure"}
    passes = max(t["passes"], 1)
    child_s = defaultdict(float)
    for s in t["spans"]:
        if s["parent"]:
            child_s[s["parent"]] += s["end"] - s["start"]
    rows = defaultdict(lambda: dict.fromkeys(FIELDS, 0.0))
    calls = defaultdict(lambda: [0, 0.0])
    for s in t["spans"]:
        if s["op"] not in measured:
            continue
        r = rows[s["layer"]]
        r["self_s"] += (s["end"] - s["start"] - child_s[s["id"]]) / 1e3
        r["calls"] += 1
        if s["layer"] not in ("op", "exec"):
            c = calls[(s["layer"], s["name"])]
            c[0] += 1
            c[1] += (s["end"] - s["start"]) / 1e3
    for j in t["jobs"]:
        s = spans.get(j["span"])
        if s is None or s["op"] not in measured:
            continue
        r = rows[s["layer"]]
        r["jobs"] += 1
        r["job_s"] += (j["end"] - j["start"]) / 1e3
        r["tasks"] += j["tasks"]
        r["task_s"] += j["task_s"]
    sql = rows["sql"]
    for o in t["ops"]:
        if o["op"] in measured:
            sql["self_s"] += o["analyze_s"] + o["optimize_s"] + o["physical_s"]
    out = {k: {f: v / passes for f, v in r.items()} for k, r in rows.items()}
    return t, out, {k: (n / passes, s / passes) for k, (n, s) in calls.items()}


def report(path):
    t, rows, calls = layers(path)
    print(f"{t['workload']} seed {t['seed']}: {t['passes']} measured passes, "
          f"{t['wall_s']:.2f} s; figures per pass")
    print(f"{'layer':12s}" + "".join(f"{f:>10s}" for f in FIELDS))
    for layer, r in sorted(rows.items(), key=lambda kv: -kv[1]["self_s"]):
        print(f"{layer:12s}" + "".join(f"{r[f]:10.3f}" for f in FIELDS))
    print("\ncalls into modules (per pass): layer, name, calls, wall s")
    for (layer, name), (n, s) in sorted(calls.items(), key=lambda kv: -kv[1][1]):
        print(f"  {layer:10s} {name:40s} {n:6.1f} {s:9.3f}")


def diff(a, b):
    _, ra, _ = layers(a)
    _, rb, _ = layers(b)
    print(f"per pass, {a} -> {b}")
    print(f"{'layer':12s}{'field':>8s}{'parent':>12s}{'change':>12s}{'delta':>12s}{'delta %':>9s}")
    for layer in sorted(set(ra) | set(rb)):
        for f in ("self_s", "job_s", "task_s", "jobs"):
            x = ra.get(layer, {}).get(f, 0.0)
            y = rb.get(layer, {}).get(f, 0.0)
            if x or y:
                pct = f"{100 * (y - x) / x:8.1f}%" if x else "       -"
                print(f"{layer:12s}{f:>8s}{x:12.3f}{y:12.3f}{y - x:12.3f}{pct}")


if __name__ == "__main__":
    if len(sys.argv) == 2:
        report(sys.argv[1])
    elif len(sys.argv) == 3:
        diff(sys.argv[1], sys.argv[2])
    else:
        sys.exit(__doc__)
