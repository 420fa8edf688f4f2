#!/usr/bin/env python3
"""Summarize a graftbench span file: self time per layer and unattributed share.

Usage: python3 graftbench/summarize.py graftbench/.work/traces/<workload>-s<seed>.json

A span's self time is its duration minus the part of it that its child spans
cover. Op spans (layer "op") sit at the root of each traced operation; the
self time of an op span is time the benchmark could not attribute to any
named layer (plan/exec phase, Spark job or stage), and its share of all op
time is `trace.unattributed_share` (overall and per op kind).
"""
import collections
import json
import sys


def covered(intervals, lo, hi):
    """Length of the union of `intervals`, each clipped to [lo, hi]."""
    iv = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, end = 0, lo
    for a, b in iv:
        if b <= a:
            continue
        if a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def summarize(path):
    with open(path) as fh:
        doc = json.load(fh)
    spans = doc["spans"]
    children = collections.defaultdict(list)
    for s in spans:
        if s["parent"]:
            children[s["parent"]].append((s["start_ns"], s["end_ns"]))
    by_layer = collections.defaultdict(float)
    by_kind_layer = collections.defaultdict(lambda: collections.defaultdict(float))
    op_time = collections.defaultdict(float)
    op_self = collections.defaultdict(float)
    kind_of = {}
    for s in spans:
        if s["layer"] == "op":
            kind_of[s["id"]] = s["name"].split(":")[1]
    for s in spans:
        dur = max(0, s["end_ns"] - s["start_ns"])
        self_ns = dur - covered(children.get(s["id"], []), s["start_ns"], s["end_ns"])
        if s["op"] == 0:
            by_layer["probe:" + s["layer"]] += self_ns / 1e9
            continue
        kind = kind_of.get(s["op"], "?")
        layer = "unattributed" if s["layer"] == "op" else s["layer"]
        by_layer[layer] += self_ns / 1e9
        by_kind_layer[kind][layer] += self_ns / 1e9
        if s["layer"] == "op":
            op_time[kind] += dur / 1e9
            op_self[kind] += self_ns / 1e9
    total = sum(op_time.values())
    unattributed = {"trace.unattributed_share": sum(op_self.values()) / total if total else 0.0}
    for kind in ("ingest", "append", "scan", "lookup", "maintenance"):
        unattributed[f"trace.unattributed_share.{kind}"] = (
            op_self[kind] / op_time[kind] if op_time.get(kind) else 0.0)
    return {"host": doc.get("host"), "overhead_ratio": doc.get("overhead_ratio"),
            "by_layer": dict(by_layer), "by_kind_layer": {k: dict(v) for k, v in by_kind_layer.items()},
            "op_time": dict(op_time), "unattributed": unattributed}


def print_summary(s, out):
    print("# self time per layer, traced ops (s)", file=out)
    for kind, layers in sorted(s["by_kind_layer"].items()):
        tot = s["op_time"].get(kind, 0.0)
        for layer, secs in sorted(layers.items(), key=lambda kv: -kv[1]):
            share = secs / tot if tot else 0.0
            print(f"trace {kind:12s} {layer:32s} {secs:10.3f} s {share:7.1%}", file=out)
    for layer, secs in sorted(s["by_layer"].items()):
        if layer.startswith("probe:"):
            print(f"trace {'probes':12s} {layer[6:]:32s} {secs:10.3f} s", file=out)
    for k, v in s["unattributed"].items():
        print(f"trace {k} = {v:.4f}", file=out)
    print(f"trace trace.overhead_ratio = {s['overhead_ratio']}", file=out)


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    print_summary(summarize(sys.argv[1]), sys.stdout)
