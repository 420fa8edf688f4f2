#!/usr/bin/env python3
"""Run a workload on several seeds and report each end-to-end metric's spread.

Usage (from the repository root):
    python3 graftbench/steady.py --workloads webtext,lineitem,append_lookup \
        --seeds 1-10 [--seconds 10] [--out graftbench/.work/steady.json]
    python3 graftbench/steady.py --report graftbench/.work/steady.json [more.json ...]

For each metric the spread is the distance between the first and third
quartile of its per-seed values (statistics.quantiles, n=4) as a share of
their median, set against the metric's bound in BENCHMARK.json. Results whose
host records differ are reported as not comparable and left out.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
from run import HOST_KEYS  # noqa: E402


def seeds(spec):
    out = []
    for part in spec.split(","):
        a, _, b = part.partition("-")
        out += list(range(int(a), int(b or a) + 1))
    return out


def host_key(rec):
    return tuple(str(rec["host"].get(k)) for k in HOST_KEYS)


def run(workloads, seed_list, seconds):
    runs = []
    for w in workloads:
        for s in seed_list:
            t0 = time.time()
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(s), "--seconds", str(seconds), "--trace", "0"],
                               cwd=ROOT, capture_output=True, text=True)
            path = os.path.join(HERE, ".work", "results", f"{w}-s{s}-t0.json")
            ok = p.returncode == 0 and os.path.exists(path)
            rec = json.load(open(path)) if ok else None
            print(f"{w} seed {s}: exit {p.returncode} in {time.time() - t0:.0f} s", file=sys.stderr)
            if rec:
                rec["wall_s"] = time.time() - t0
                runs.append(rec)
            else:
                print(p.stderr[-2000:], file=sys.stderr)
    return runs


def report(runs, bench):
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    hosts = {host_key(r) for r in runs}
    if len(hosts) > 1:
        print(f"NOT COMPARABLE: {len(hosts)} different host records; using the most common one")
        common = max(hosts, key=lambda h: sum(host_key(r) == h for r in runs))
        runs = [r for r in runs if host_key(r) == common]
    table = {}
    for w in sorted({r["workload"] for r in runs}):
        rs = [r for r in runs if r["workload"] == w]
        for name, bound in bounds.items():
            vals = [r["metrics"][name]["value"] for r in rs if name in r["metrics"]]
            if len(vals) < 2:
                continue
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / abs(med) if med else float("inf")
            table[f"{w}/{name}"] = {"median": med, "q1": q1, "q3": q3, "spread": spread,
                                    "bound": bound, "n": len(vals),
                                    "unit": rs[0]["metrics"][name]["unit"]}
            flag = "ok" if spread < bound / 3 else ("WIDE" if spread < bound else "OVER")
            print(f"{w:14s} {name:26s} median {med:12.4f} q1 {q1:12.4f} q3 {q3:12.4f} "
                  f"spread {spread:6.3f} bound {bound:5.2f} {flag} (n={len(vals)})")
        walls = [r["wall_s"] for r in rs if "wall_s" in r]
        if walls:
            print(f"{w:14s} run wall s: median {statistics.median(walls):.1f} max {max(walls):.1f}")
        for r in rs:
            h = r["host"]
            print(f"{w:14s} seed {h['seed']}: spark start {h.get('spark_start_s', 0):.1f} s, "
                  f"cpu steal share {h.get('cpu_steal_share')}")
    return table


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default="webtext,lineitem,append_lookup")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--out")
    ap.add_argument("--report", nargs="*")
    ap.add_argument("--markdown", help="also write the spread table as markdown here")
    a = ap.parse_args()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    if a.report:
        runs = [r for f in a.report for r in json.load(open(f))["runs"]]
    else:
        runs = run(a.workloads.split(","), seeds(a.seeds), a.seconds or bench["run_seconds"])
    table = report(runs, bench)
    if a.out:
        with open(a.out, "w") as fh:
            json.dump({"runs": runs, "spread": table}, fh, indent=1)
    if a.markdown:
        with open(a.markdown, "w") as fh:
            fh.write(markdown(runs, table))


def markdown(runs, table):
    """The spread table as markdown, with the host record it was measured on."""
    host = runs[0]["host"] if runs else {}
    lines = ["host: " + ", ".join(f"{k}={host.get(k)}" for k in HOST_KEYS + ("commit",)), "",
             "| workload | metric | unit | median | q1 | q3 | spread | bound | n |",
             "|---|---|---|---|---|---|---|---|---|"]
    for key, t in table.items():
        w, m = key.split("/")
        lines.append(f"| {w} | {m} | {t['unit']} | {t['median']:.4g} | {t['q1']:.4g} | {t['q3']:.4g} | "
                     f"{t['spread']:.3f} | {t['bound']} | {t['n']} |")
    return "\n".join(lines) + "\n"


if __name__ == "__main__":
    main()
