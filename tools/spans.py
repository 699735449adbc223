#!/usr/bin/env python3
"""Per-span summary of a traced benchmark run, or the difference of two.

Usage:
    python3 tools/spans.py <trace.json>
    python3 tools/spans.py <parent-trace.json> <change-trace.json>

A trace is the file `perfbench/run.py --trace 1` writes
(`perfbench/out/trace-<workload>-<seed>.json`). Only the timed iterations
count (top-level spans named `iteration`; the `warmup` span is skipped).
Each span below an iteration is keyed by its path under it (`bm25`,
`ep1/load`, ...); a key met more than once in one iteration is summed
within it. Per key the script prints the median over the iterations of
wall, self and no-job seconds, jobs and tasks; the row `iteration` is the
iterations themselves. With two traces it prints both medians and the
change minus the parent per field, the largest wall change first.
"""
import json
import statistics
import sys

FIELDS = ("wall_s", "self_s", "no_job_running_s", "jobs", "tasks")
HEADS = ("wall", "self", "no-job", "jobs", "tasks")


def medians(path):
    with open(path) as f:
        spans = json.load(f)["spans"]
    by_id = {s["id"]: s for s in spans}
    iterations = [s for s in spans if s["parent"] == -1 and s["name"] == "iteration"]
    if not iterations:
        sys.exit(f"spans: {path} holds no timed iteration span")
    per_iter = {it["id"]: {"iteration": {k: it[k] for k in FIELDS}} for it in iterations}
    for s in spans:
        names, p = [], s
        while p["parent"] != -1:
            names.append(p["name"])
            p = by_id[p["parent"]]
        if p["id"] not in per_iter or not names:
            continue
        acc = per_iter[p["id"]].setdefault("/".join(reversed(names)), dict.fromkeys(FIELDS, 0))
        for k in FIELDS:
            acc[k] += s[k]
    keys = list(dict.fromkeys(k for it in per_iter.values() for k in it))
    return {k: {f: statistics.median(it.get(k, {}).get(f, 0) for it in per_iter.values())
                for f in FIELDS} for k in keys}


def fmt(v):
    return f"{v:.3f}" if isinstance(v, float) and not v.is_integer() else f"{v:g}"


def table(rows, heads):
    widths = [max(len(str(r[i])) for r in [heads] + rows) for i in range(len(heads))]
    for r in [heads] + rows:
        print("  ".join(str(c).ljust(w) if i == 0 else str(c).rjust(w)
                        for i, (c, w) in enumerate(zip(r, widths))))


def main(argv):
    if len(argv) not in (2, 3):
        sys.exit(__doc__)
    if len(argv) == 2:
        m = medians(argv[1])
        table([[k] + [fmt(m[k][f]) for f in FIELDS] for k in m], ["span"] + list(HEADS))
        return
    a, b = medians(argv[1]), medians(argv[2])
    keys = list(dict.fromkeys(list(a) + list(b)))
    zero = dict.fromkeys(FIELDS, 0)
    rows = []
    for k in keys:
        pa, pb = a.get(k, zero), b.get(k, zero)
        rows.append([k] + [c for f in FIELDS
                           for c in (fmt(pa[f]), fmt(pb[f]), fmt(pb[f] - pa[f]))])
    rows.sort(key=lambda r: (r[0] != "iteration", float(r[3])))
    heads = ["span"] + [f"{h} {side}" for h in HEADS for side in ("parent", "change", "diff")]
    table(rows, heads)


if __name__ == "__main__":
    main(sys.argv)
