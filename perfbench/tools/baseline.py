#!/usr/bin/env python3
"""Render a survey file as the baseline tables of BASELINE.md.

    python3 perfbench/run.py --survey SURVEY.jsonl
    python3 perfbench/tools/baseline.py SURVEY.jsonl COMMIT > perfbench/BASELINE.md

The survey runs every registered query once to warm up and once traced,
on the benchmark's tables and session settings. The tables list the 20
queries with the most driver self time (wall minus the union of task-running
intervals) and the 20 with the most executor CPU time.
"""
import json
import os
import platform
import sys

# (layer, heading); names ending in _s are seconds, the rest counts
COLS = [("wall_s", "wall s"), ("operators.build_s", "build s"),
        ("action.s", "action s"), ("driver.self_s", "driver self s"),
        ("executor.task_cpu_s", "task cpu s"), ("scheduler.jobs", "jobs"),
        ("operators.build_jobs", "jobs in build"),
        ("catalyst.optimization_s", "optimizer s"),
        ("storage.leaked_rdds", "leaked RDDs")]


def cpu_model():
    try:
        for line in open("/proc/cpuinfo"):
            if line.startswith("model name"):
                return line.split(":", 1)[1].strip()
    except OSError:
        pass
    return platform.processor() or "unknown CPU"


def table(rows, key, title):
    out = [f"### Top 20 by {title}", "",
           "| # | query | " + " | ".join(c[1] for c in COLS) + " |",
           "|---|---|" + "---|" * len(COLS)]
    for i, r in enumerate(sorted(rows, key=lambda r: -r["layers"][key])[:20], 1):
        vals = [r["wall_s"]] + [r["layers"][c] for c, _ in COLS[1:]]
        cells = [f"{v:.3f}" if c.endswith("_s") or c == "action.s" else f"{v:.0f}"
                 for (c, _), v in zip(COLS, vals)]
        out.append(f"| {i} | {r['query']} | " + " | ".join(cells) + " |")
    return "\n".join(out)


def main(path, commit):
    rows = [json.loads(l) for l in open(path) if l.strip()]
    ok = [r for r in rows if r["ok"]]
    failed = sorted(r["query"] for r in rows if not r["ok"])
    total = sum(r["wall_s"] for r in ok)
    self_s = sum(r["layers"]["driver.self_s"] for r in ok)
    cpu = sum(r["layers"]["executor.task_cpu_s"] for r in ok)
    print(f"""# Baseline at {commit}

Traced survey of every registered query: one warm-up execution, then one
traced execution, at local[4] with the `graft.Bench` session settings, on the
benchmark's sf0.01 tables (`perfbench/data`). Hardware: {cpu_model()},
{os.cpu_count()} logical CPUs. Regenerate with the commands in
`tools/baseline.py`.

{len(ok)} queries ran; {total:.1f} s of traced wall in all, of which
{self_s:.1f} s ({100 * self_s / total:.0f}%) is driver self time and
{cpu:.1f} s is executor CPU. Queries that threw: {", ".join(failed) or "none"}.

{table(ok, "driver.self_s", "driver self time (`driver.self_s`)")}

{table(ok, "executor.task_cpu_s", "executor CPU (`executor.task_cpu_s`)")}
""")


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
