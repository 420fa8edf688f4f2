#!/usr/bin/env python3
"""Run one graftbench workload and print its result as the last stdout line.

Usage (from the repository root):
    python3 graftbench/run.py --workload webtext|lineitem|append_lookup \
        --seed N --seconds S --trace 0|1

The first run in a checkout compiles the engine (src/main/scala) and the
benchmark (graftbench/src) with the Scala compiler that ships in Spark's jars
directory; later runs reuse the classes while the sources are unchanged.
Everything the run writes stays under graftbench/.build and graftbench/.work.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
ENGINE_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src")
WORKLOADS = ("webtext", "lineitem", "append_lookup")
RUN_TIMEOUT_S = 175
XMX = "3g"
# host record fields that must agree for two results to be comparable
HOST_KEYS = ("nproc", "mem_total_mb", "xmx_mb", "jvm", "spark", "scala", "local_n", "local_n_quarter")

sys.path.insert(0, HERE)
import summarize  # noqa: E402


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """$SPARK_HOME/jars, else the jars directory the repository's build.sbt uses."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    except OSError:
        m = None
    if m and os.path.isdir(m.group(1)):
        return m.group(1)
    fail("no Spark jars directory (set SPARK_HOME)")


def sources():
    out = []
    for base in (ENGINE_SRC, ENGINE_RES, BENCH_SRC):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files]
    return sorted(out)


def build(jars):
    """Compile into .build/<hash of sources>/graftbench.jar unless already there."""
    if not os.path.isdir(ENGINE_SRC):
        fail(f"engine sources not found at {ENGINE_SRC}")
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    key = h.hexdigest()[:16]
    out = os.path.join(BUILD, key)
    jar = os.path.join(out, "graftbench.jar")
    if os.path.exists(os.path.join(out, "ok")):
        return jar, key
    shutil.rmtree(BUILD, ignore_errors=True)
    tmp = os.path.join(BUILD, "tmp-classes")
    os.makedirs(tmp)
    scala = [f for f in files if f.endswith(".scala")]
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(scala))
    cp = os.path.join(jars, "*")
    t0 = time.time()
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-d", tmp, "-cp", cp, "@" + argfile],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=sys.stderr)
        fail("compilation failed")
    if os.path.isdir(ENGINE_RES):
        shutil.copytree(ENGINE_RES, tmp, dirs_exist_ok=True)
    os.makedirs(out)
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for d, _, names in os.walk(tmp):
            for n in sorted(names):
                f = os.path.join(d, n)
                z.write(f, os.path.relpath(f, tmp))
    shutil.rmtree(tmp)
    open(os.path.join(out, "ok"), "w").close()
    print(f"graftbench: built {key} in {time.time() - t0:.1f} s", file=sys.stderr)
    return jar, key


def commit_id(src_key):
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "sources:" + src_key


JAVA_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def classpath(jar, jars):
    return os.pathsep.join([jar] + sorted(os.path.join(jars, f) for f in os.listdir(jars) if f.endswith(".jar")))


def java_cmd(jar, jars, work):
    # CompileThresholdScaling: C2 compiles hot code after a fifth of the usual
    # invocations, so the engine reaches steady speed within the warm-up.
    # MetaspaceSize: class loading does not trigger full collections, which
    # would otherwise land in timed ops.
    return ["java", f"-Xmx{XMX}", "-XX:+UseParallelGC", "-XX:CompileThresholdScaling=0.2", "-XX:MetaspaceSize=256m",
            "-Xlog:all=warning:stderr",
            *JAVA_OPENS, "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            f"-Djava.io.tmpdir={work}", "-cp", classpath(jar, jars), "graftbench.Main"]


def run_bounded(cmd, work, timeout):
    """Run `cmd` in its own process group; kill the group and wait on timeout.
    Returns (exit code, stdout), or None after a timeout."""
    env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1")
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, env=env, cwd=work,
                         start_new_session=True)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        return None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def run_java(jar, jars, args, work, timeout):
    cmd = java_cmd(jar, jars, work) + [
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--work", work]
    if args.inject_wrong:
        cmd += ["--inject-wrong", str(args.inject_wrong)]
    r = run_bounded(cmd, work, timeout)
    if r is None:
        fail(f"run exceeded {timeout:.0f} s")
    code, out = r
    lines = [l for l in out.splitlines() if l.startswith("RESULT ")]
    if code != 0 or not lines:
        fail(f"benchmark JVM exited with {code} and no result")
    return json.loads(lines[-1][len("RESULT "):])


def print_table(res, workload, trace):
    """Every metric by name, unit and workload, for people; the JSON line follows.
    failed_ops_ratio is printed here; the JSON line carries it as attempted/failed."""
    rows = list(res["metrics"].items())
    if not trace:
        rows.append(("failed_ops_ratio", {"value": res["failed"] / max(1, res["attempted"]), "unit": "ratio"}))
    for k, m in rows:
        print(f"{workload:14s} {k:40s} {m['value']!s:>24} {m['unit']}")
    notes = res.get("notes", {})
    for k in sorted(notes):
        print(f"{workload:14s} {k:40s} {notes[k]:>24}")


def result_path(workload, seed, trace):
    return os.path.join(WORK, "results", f"{workload}-s{seed}-t{trace}.json")


def cpu_steal_s():
    """CPU seconds the hypervisor gave to other guests so far, summed over
    CPUs (the `steal` field of /proc/stat), or None where there is none."""
    try:
        with open("/proc/stat") as fh:
            return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return None


def measure(jar, jars, key, args, deadline):
    """One run of the benchmark JVM; its result record is kept under results/."""
    work = os.path.join(WORK, f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    steal0, t0 = cpu_steal_s(), time.time()
    try:
        res = run_java(jar, jars, args, work, max(1.0, deadline - time.time()))
    finally:
        keep = os.path.join(work, "trace.json")
        traces = os.path.join(WORK, "traces")
        if os.path.exists(keep):
            os.makedirs(traces, exist_ok=True)
            shutil.move(keep, os.path.join(traces, f"{args.workload}-s{args.seed}.json"))
        shutil.rmtree(work, ignore_errors=True)
    steal1 = cpu_steal_s()
    res["host"]["commit"] = commit_id(key)
    res["host"]["xmx"] = XMX
    # share of the run's CPU time taken by other guests: a measure of host
    # load, so not part of HOST_KEYS
    res["host"]["cpu_steal_share"] = (None if steal0 is None or steal1 is None else
                                      (steal1 - steal0) / ((time.time() - t0) * os.cpu_count()))
    res["seconds"] = args.seconds
    path = result_path(args.workload, args.seed, args.trace)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump(dict(res, workload=args.workload), fh, indent=1)
    return res


def untraced(jar, jars, key, args, host, deadline):
    """An untraced run of the same workload, sources and run length on the
    same host to compare the traced run with: the same seed's kept result,
    else the newest kept result of another seed, else a fresh run."""
    def usable(rec):
        return (rec.get("workload") == args.workload and rec.get("seconds") == args.seconds
                and rec["correct"] and rec["host"].get("commit") == host["commit"]
                and all(rec["host"].get(k) == host.get(k) for k in HOST_KEYS))
    same = result_path(args.workload, args.seed, 0)
    others = glob.glob(result_path(args.workload, "*", 0))
    for path in [same] + sorted((p for p in others if p != same), key=os.path.getmtime, reverse=True):
        try:
            with open(path) as fh:
                rec = json.load(fh)
            if usable(rec):
                return rec, path
        except (OSError, ValueError, KeyError):
            pass
    base_args = argparse.Namespace(**dict(vars(args), trace=0, inject_wrong=0))
    rec = measure(jar, jars, key, base_args, deadline)
    if not rec["correct"]:
        fail("the untraced run the traced run is compared with failed its checks")
    return rec, same


def overhead_ratio(traced, base):
    """Traced over untraced op wall, minus one: the sum over op names of the
    median wall of the traced run's traced ops over the sum of the medians of
    the same ops in the untraced run."""
    names = [k[:-2] for k in traced if k.startswith("wall.") and k.endswith(".t") and k[:-2] + ".u" in base]
    if not names:
        return float("nan")
    t = sum(statistics.median(traced[n + ".t"]) for n in names)
    u = sum(statistics.median(base[n + ".u"]) for n in names)
    return t / u - 1.0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject-wrong", type=int, default=0,
                    help="self-test: force every K-th correctness check to disagree")
    args = ap.parse_args()

    jars = spark_jars()
    jar, key = build(jars)
    deadline = time.time() + RUN_TIMEOUT_S
    res = measure(jar, jars, key, args, deadline)
    if args.trace:
        trace_file = os.path.join(WORK, "traces", f"{args.workload}-s{args.seed}.json")
        base, base_path = untraced(jar, jars, key, args, res["host"], deadline)
        ratio = overhead_ratio(res["samples"], base["samples"])
        res["metrics"]["trace.overhead_ratio"] = {"value": ratio, "unit": "ratio"}
        res["notes"]["trace.overhead_vs"] = os.path.relpath(base_path, ROOT)
        with open(trace_file) as fh:
            doc = json.load(fh)
        doc["overhead_ratio"] = ratio
        with open(trace_file, "w") as fh:
            json.dump(doc, fh)
        summary = summarize.summarize(trace_file)
        for k, v in summary["unattributed"].items():
            res["metrics"][k] = {"value": v, "unit": "ratio"}
        summarize.print_summary(summary, sys.stdout)
    print_table(res, args.workload, args.trace)
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": res["metrics"]}))
    sys.stdout.flush()
    if not res["correct"]:
        sys.exit(1)


if __name__ == "__main__":
    main()
