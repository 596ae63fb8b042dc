#!/usr/bin/env python3
"""Print a crawl round's, set-up's or catalog query's Spark stage timeline from a crawlbench trace.

A traced benchmark run (`python3 crawlbench/run.py --workload frontier-wide
--trace 1`, or `--workload catalog`) writes
`crawlbench/out/<workload>-seed<n>-trace1.trace.jsonl`: one JSON object per
span (set-ups, rounds or timed queries, storage calls) and per completed
Spark stage. This tool assigns each stage to the operation span that covers
its submission time, as the benchmark's per-layer metrics do, and prints per
stage: submit and complete offsets from the operation's start, tasks,
task-s, cpu-s and the input, shuffle-write, shuffle-read and output
megabytes. The totals line adds the operation's wall time, the wall time no
stage covered (idle) and the stage count.

    python3 tools/round_stages.py crawlbench/out/frontier-wide-seed21-trace1.trace.jsonl
    python3 tools/round_stages.py --round 2 --totals before.trace.jsonl after.trace.jsonl
    python3 tools/round_stages.py --query d4_ngram_jaccard crawlbench/out/catalog-seed1-trace1.trace.jsonl
    python3 tools/round_stages.py --setup 2 --totals before.trace.jsonl after.trace.jsonl

A frontier run records three set-up spans, and `--setup N` prints the N-th,
counting from 1 in start order. Each builds the link graph and writes
snapshot 0. The first is the measured crawl's own; `setup_s` is the median
of the second and third, on fresh stores after round 1 and after the last
round.

With `--events`, each stage row also names the engine step that ran it:
the Spark job description of the first job listing the stage (`link
graph`, `seen+bloom`, `write <table>`, `counts`, `schedule+discover`),
matched on stage id from a Spark event log of the same run. Record one by
passing Spark's event-log settings to the benchmark's JVM, into an empty
directory that exists before the run:

    rm -rf /tmp/ev && mkdir -p /tmp/ev
    JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true -Dspark.eventLog.compress=false \\
      -Dspark.eventLog.dir=file:///tmp/ev" \\
      python3 crawlbench/run.py --workload frontier-wide --seed 1001 --trace 1
    python3 tools/round_stages.py --setup 2 --events /tmp/ev/eventlog_v2_local-* \\
      crawlbench/out/frontier-wide-seed1001-trace1.trace.jsonl

`--events` takes the log file, or the directory Spark writes when it rolls
the log (`eventlog_v2_<app id>`, whose `events_<n>_*` files it reads in
order).

A catalog run times each query twice (two passes, the second in reverse
order); `--query` prints both, labelled `NAME#1` and `NAME#2`. With several
files, `--totals` prints one totals row per file and operation, so two
commits' runs on the same seed compare side by side.
"""
import argparse
import json
import os
import sys

MB = 1e6


def load(path):
    spans, stages = [], []
    with open(path) as f:
        for line in f:
            rec = json.loads(line)
            (stages if "stage" in rec else spans).append(rec)
    return spans, stages


def job_steps(path):
    """Stage id -> the description of the first job that lists the stage,
    from a Spark event log (a file, or a rolled log's directory)."""
    if os.path.isdir(path):
        parts = [f for f in os.listdir(path) if f.startswith("events_")]
        files = [os.path.join(path, f)
                 for f in sorted(parts, key=lambda f: int(f.split("_")[1]))]
    else:
        files = [path]
    steps = {}
    for f in files:
        with open(f) as fh:
            for line in fh:
                if '"SparkListenerJobStart"' not in line:
                    continue
                ev = json.loads(line)
                what = (ev.get("Properties") or {}).get("spark.job.description", "-")
                for sid in ev["Stage IDs"]:
                    steps.setdefault(sid, what)
    return steps


def ops_of(spans, run, rnd, query, setup):
    """The (label, span) of each selected operation, in start order: a
    catalog query's timed passes, the N-th set-up, or the crawl's rounds
    (all, or one)."""
    if setup is not None:
        out = sorted((s for s in spans if s["name"] == "setup" and s["run"] == run),
                     key=lambda s: s["start_ms"])
        return [(str(setup), out[setup - 1])] if 1 <= setup <= len(out) else []
    if query is not None:
        out = [s for s in spans if s["name"] == "query" and s["run"] == run
               and s["detail"] == query]
        return [(f"{query}#{k}", s)
                for k, s in enumerate(sorted(out, key=lambda s: s["start_ms"]), 1)]
    out = [s for s in spans if s["name"] == "round" and s["run"] == run]
    if rnd is not None:
        out = [s for s in out if s["detail"] == f"r{rnd}"]
    return [(s["detail"][1:], s) for s in sorted(out, key=lambda s: s["start_ms"])]


def covered_ms(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of the intervals."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def totals(op, stages):
    wall = op["dur_ms"]
    busy = covered_ms([(s["submitted_ms"], s["completed_ms"]) for s in stages],
                      op["start_ms"], op["end_ms"])
    return {
        "wall_s": wall / 1e3,
        "idle_s": (wall - busy) / 1e3,
        "stages": len(stages),
        "tasks": sum(s["tasks"] for s in stages),
        "task_s": sum(s["task_s"] for s in stages),
        "cpu_s": sum(s["cpu_s"] for s in stages),
        "in_mb": sum(s["input_b"] for s in stages) / MB,
        "shw_mb": sum(s["shuffle_write_b"] for s in stages) / MB,
        "shr_mb": sum(s["shuffle_read_b"] for s in stages) / MB,
        "out_mb": sum(s["output_b"] for s in stages) / MB,
    }


TOTAL_COLS = ["wall_s", "idle_s", "stages", "tasks", "task_s", "cpu_s",
              "in_mb", "shw_mb", "shr_mb", "out_mb"]


def fmt(v):
    return f"{v:d}" if isinstance(v, int) else f"{v:.3f}"


def timeline(what, op, stages, steps=None):
    t0 = op["start_ms"]
    print(f"{what}  wall {op['dur_ms'] / 1e3:.3f} s")
    head = ["stage", "submit_s", "done_s", "dur_s", "tasks", "task_s", "cpu_s",
            "in_mb", "shw_mb", "shr_mb", "out_mb"]
    job = "  job" if steps is not None else ""
    print("  " + " ".join(f"{h:>8}" for h in head) + job)
    for s in stages:
        row = [s["stage"], (s["submitted_ms"] - t0) / 1e3, (s["completed_ms"] - t0) / 1e3,
               (s["completed_ms"] - s["submitted_ms"]) / 1e3, s["tasks"], s["task_s"],
               s["cpu_s"], s["input_b"] / MB, s["shuffle_write_b"] / MB,
               s["shuffle_read_b"] / MB, s["output_b"] / MB]
        job = f"  {steps.get(s['stage'], '?')}" if steps is not None else ""
        print("  " + " ".join(f"{fmt(v):>8}" for v in row) + job)
    t = totals(op, stages)
    print("  total: " + ", ".join(f"{k} {fmt(t[k])}" for k in TOTAL_COLS))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("traces", nargs="+", help="crawlbench *.trace.jsonl files")
    which = ap.add_mutually_exclusive_group()
    which.add_argument("--round", type=int, default=None,
                       help="only this crawl round (default: every round)")
    which.add_argument("--query", default=None,
                       help="this catalog query's timed passes instead of rounds")
    which.add_argument("--setup", type=int, default=None,
                       help="the N-th set-up (from 1, in start order) instead of rounds")
    ap.add_argument("--run", type=int, default=0,
                    help="span run id (0 = the measured crawl; default 0)")
    ap.add_argument("--totals", action="store_true",
                    help="one totals row per file and round instead of timelines")
    ap.add_argument("--events", default=None,
                    help="Spark event log of the same run (file or rolled-log directory): "
                         "adds each stage's job description")
    a = ap.parse_args()
    steps = job_steps(a.events) if a.events else None
    kind = "query" if a.query is not None else "setup" if a.setup is not None else "round"
    width = 5 if a.query is None else len(a.query) + 2
    if a.totals:
        print(f"{'trace':<48} {kind:>{width}} " + " ".join(f"{c:>8}" for c in TOTAL_COLS))
    found = False
    for path in a.traces:
        spans, stages = load(path)
        for label, op in ops_of(spans, a.run, a.round, a.query, a.setup):
            found = True
            mine = sorted((s for s in stages
                           if op["start_ms"] <= s["submitted_ms"] <= op["end_ms"]),
                          key=lambda s: (s["submitted_ms"], s["stage"]))
            if a.totals:
                t = totals(op, mine)
                name = path if len(path) <= 48 else "..." + path[-45:]
                print(f"{name:<48} {label:>{width}} " +
                      " ".join(f"{fmt(t[c]):>8}" for c in TOTAL_COLS))
            else:
                print(f"== {path}")
                timeline(f"{kind} {label}", op, mine, steps)
    if not found:
        sys.exit(f"no matching {kind} span in " + ", ".join(a.traces))


if __name__ == "__main__":
    main()
