"""Span tree and per-layer self time for a traced benchmark run.

The JVM records flat spans ``{name, start_us, end_us}``; a span's layer is
the part of its name before the first ``:`` (for Catalyst and micro-batch
phases, the phase too). Parents are assigned by time containment, since
spans come from several threads (driver, stream execution, listener bus).
A span's self time is its duration minus the part of it its children
cover; ``other`` is the run's wall time that no span covers.
"""
import json

LAYERS = ["session", "load", "stream", "warmup", "fixture", "host", "pass", "round",
          "query", "write", "catalyst.analysis", "catalyst.optimization",
          "catalyst.planning", "batch", "microbatch.latestOffset", "microbatch.walCommit",
          "microbatch.getBatch", "microbatch.queryPlanning", "microbatch.addBatch",
          "microbatch.commitOffsets", "sink", "other"]
# A child may overrun its parent by this much (millisecond-resolution
# timestamps from Catalyst and progress reports) and is clipped to it.
SLACK_US = 2000


def layer(name):
    parts = name.split(":")
    return ".".join(parts[:2]) if parts[0] in ("catalyst", "microbatch") else parts[0]


def _tree(raw):
    spans = sorted(raw, key=lambda s: (s["start_us"], -(s["end_us"] - s["start_us"])))
    root = {"id": 0, "name": "run", "start_us": spans[0]["start_us"] if spans else 0,
            "end_us": max((s["end_us"] for s in spans), default=0), "parent": None}
    out, stack = [root], [root]
    for i, s in enumerate(spans, 1):
        while len(stack) > 1 and not (s["start_us"] >= stack[-1]["start_us"]
                                      and s["end_us"] <= stack[-1]["end_us"] + SLACK_US):
            stack.pop()
        node = dict(s, id=i, parent=stack[-1]["id"])
        out.append(node)
        stack.append(node)
    return out


def _covered(intervals):
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def _self_us(nodes):
    by_id = {n["id"]: n for n in nodes}
    kids = {}
    for n in nodes[1:]:
        p = by_id[n["parent"]]
        kids.setdefault(p["id"], []).append(
            (max(n["start_us"], p["start_us"]), min(n["end_us"], p["end_us"])))
    return {n["id"]: (n["end_us"] - n["start_us"]) - _covered(kids.get(n["id"], []))
            for n in nodes}


def write_tree(raw_file, out_file, run_id):
    with open(raw_file) as fh:
        raw = [json.loads(line) for line in fh if line.strip()]
    nodes = _tree(raw)
    with open(out_file, "w") as fh:
        for n in nodes:
            fh.write(json.dumps({"run": str(run_id), "id": n["id"], "name": n["name"],
                                 "start_us": n["start_us"], "end_us": n["end_us"],
                                 "parent": n["parent"]}) + "\n")


def self_times(tree_file):
    with open(tree_file) as fh:
        nodes = [json.loads(line) for line in fh if line.strip()]
    own = _self_us(nodes)
    per = {k: 0.0 for k in LAYERS}
    for n in nodes:
        key = "other" if n["parent"] is None else layer(n["name"])
        if key in per:
            per[key] += own[n["id"]] / 1e6
    wall = (nodes[0]["end_us"] - nodes[0]["start_us"]) / 1e6
    total = sum(own.values()) / 1e6
    return {"self_s": per, "wall_s": wall,
            "accounted_pct": 100.0 * total / wall if wall else 0.0}
