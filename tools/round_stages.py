#!/usr/bin/env python3
"""Print a crawl round's Spark stage timeline from a crawlbench trace.

A traced benchmark run (`python3 crawlbench/run.py --workload frontier-wide
--trace 1`) writes `crawlbench/out/<workload>-seed<n>-trace1.trace.jsonl`:
one JSON object per span (set-ups, rounds, storage calls) and per completed
Spark stage. This tool assigns each stage to the round span that covers its
submission time, as the benchmark's per-layer metrics do, and prints per
stage: submit and complete offsets from the round's start, tasks, task-s,
cpu-s and the input, shuffle-write, shuffle-read and output megabytes. The
totals line adds the round's wall time, the wall time no stage covered
(idle) and the stage count.

    python3 tools/round_stages.py crawlbench/out/frontier-wide-seed21-trace1.trace.jsonl
    python3 tools/round_stages.py --round 2 --totals before.trace.jsonl after.trace.jsonl

With several files, `--totals` prints one totals row per file and round, so
two commits' runs on the same seed compare side by side.
"""
import argparse
import json
import sys

MB = 1e6


def load(path):
    spans, stages = [], []
    with open(path) as f:
        for line in f:
            rec = json.loads(line)
            (stages if "stage" in rec else spans).append(rec)
    return spans, stages


def rounds_of(spans, run, only):
    out = [s for s in spans if s["name"] == "round" and s["run"] == run]
    if only is not None:
        out = [s for s in out if s["detail"] == f"r{only}"]
    return sorted(out, key=lambda s: s["start_ms"])


def covered_ms(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of the intervals."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def totals(rnd, stages):
    wall = rnd["dur_ms"]
    busy = covered_ms([(s["submitted_ms"], s["completed_ms"]) for s in stages],
                      rnd["start_ms"], rnd["end_ms"])
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


def timeline(rnd, stages):
    t0 = rnd["start_ms"]
    print(f"round {rnd['detail'][1:]}  wall {rnd['dur_ms'] / 1e3:.3f} s")
    head = ["stage", "submit_s", "done_s", "dur_s", "tasks", "task_s", "cpu_s",
            "in_mb", "shw_mb", "shr_mb", "out_mb"]
    print("  " + " ".join(f"{h:>8}" for h in head))
    for s in stages:
        row = [s["stage"], (s["submitted_ms"] - t0) / 1e3, (s["completed_ms"] - t0) / 1e3,
               (s["completed_ms"] - s["submitted_ms"]) / 1e3, s["tasks"], s["task_s"],
               s["cpu_s"], s["input_b"] / MB, s["shuffle_write_b"] / MB,
               s["shuffle_read_b"] / MB, s["output_b"] / MB]
        print("  " + " ".join(f"{fmt(v):>8}" for v in row))
    t = totals(rnd, stages)
    print("  total: " + ", ".join(f"{k} {fmt(t[k])}" for k in TOTAL_COLS))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("traces", nargs="+", help="crawlbench *.trace.jsonl files")
    ap.add_argument("--round", type=int, default=None, help="only this round (default: all)")
    ap.add_argument("--run", type=int, default=0,
                    help="span run id (0 = the measured crawl; default 0)")
    ap.add_argument("--totals", action="store_true",
                    help="one totals row per file and round instead of timelines")
    a = ap.parse_args()
    if a.totals:
        print(f"{'trace':<48} {'round':>5} " + " ".join(f"{c:>8}" for c in TOTAL_COLS))
    found = False
    for path in a.traces:
        spans, stages = load(path)
        for rnd in rounds_of(spans, a.run, a.round):
            found = True
            mine = sorted((s for s in stages
                           if rnd["start_ms"] <= s["submitted_ms"] <= rnd["end_ms"]),
                          key=lambda s: (s["submitted_ms"], s["stage"]))
            if a.totals:
                t = totals(rnd, mine)
                name = path if len(path) <= 48 else "..." + path[-45:]
                print(f"{name:<48} {rnd['detail'][1:]:>5} " +
                      " ".join(f"{fmt(t[c]):>8}" for c in TOTAL_COLS))
            else:
                print(f"== {path}")
                timeline(rnd, mine)
    if not found:
        sys.exit("no matching round span in " + ", ".join(a.traces))


if __name__ == "__main__":
    main()
