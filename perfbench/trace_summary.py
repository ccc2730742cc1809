#!/usr/bin/env python3
"""Per-layer self time from a traced run's spans.

A span's self time is its duration minus the part of its interval its
child spans cover. The root span of each operation is the harness layer
(time between its calls into the program). Self times therefore add up
to the operations' wall time; `coverage` reports how closely they do.

    python3 perfbench/trace_summary.py <spans.jsonl>
"""
import json
import sys
from collections import defaultdict

# Every layer a span can name, root first; metric names derive from these.
LAYERS = ["harness", "engine", "catalyst.analysis", "catalyst.optimization",
          "catalyst.planning", "exec", "plans.runQueryMode",
          "operators.candidates", "operators.jaccard", "operators.corpus_new",
          "sources.append", "sources.compact"]


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def _covered(start, end, intervals):
    """Length of [start, end] covered by the union of `intervals`."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def summarize(spans):
    """Totals in seconds: per-layer self time and inclusive time, the
    operations' wall time, and the number of traced operations."""
    children = defaultdict(list)
    for s in spans:
        if s["parent"]:
            children[s["parent"]].append((s["start_ns"], s["end_ns"]))
    self_s = defaultdict(float)
    incl_s = defaultdict(float)
    wall = 0.0
    ops = 0
    for s in spans:
        dur = s["end_ns"] - s["start_ns"]
        own = dur - _covered(s["start_ns"], s["end_ns"], children.get(s["id"], []))
        layer = "harness" if s["parent"] == 0 else s["name"]
        self_s[layer] += own / 1e9
        incl_s[layer] += dur / 1e9
        if s["parent"] == 0:
            wall += dur / 1e9
            ops += 1
    return {"self_s": dict(self_s), "incl_s": dict(incl_s), "wall_s": wall, "ops": ops}


def report(summary, overhead=None, out=sys.stdout):
    wall, ops = summary["wall_s"], summary["ops"]
    print(f"traced operations: {ops}, wall {wall:.3f} s", file=out)
    print(f"{'layer':24s} {'self s/op':>12s} {'share':>8s}", file=out)
    for layer in LAYERS:
        s = summary["self_s"].get(layer, 0.0)
        if s:
            print(f"{layer:24s} {s / max(ops, 1):12.6f} {s / wall:8.2%}", file=out)
    total = sum(summary["self_s"].values())
    print(f"self-time sum / operation wall: {total / wall:.4f}" if wall else
          "no traced operations", file=out)
    if overhead is None:
        print("tracing overhead: unavailable, no untraced run of the same sources", file=out)
    else:
        print(f"tracing overhead (1 - traced/untraced ops per s): {overhead:.4f}", file=out)


if __name__ == "__main__":
    report(summarize(load(sys.argv[1])))
