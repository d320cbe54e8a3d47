#!/usr/bin/env python3
"""Layer-by-layer extraction benchmark for the graft engine.

Run one workload:

    python3 perfbench/run.py --workload mixed --seed 1 --seconds 16 --trace 0

from the root of a source checkout. The first run builds the engine and
the benchmark with sbt (perfbench/build.sbt); later runs reuse the build
while the sources are unchanged. The last line of standard output is one
JSON object with the keys correct, attempted, failed and metrics; with
--trace 0 the metrics are the end-to-end ones of BENCHMARK.json, with
--trace 1 the per-layer ones. Every run also writes a record under
perfbench/records/<commit>/. The exit code is 0 only when the output gate
passed.

Other commands:

    python3 perfbench/run.py selftest            # benchmark's own checks
    python3 perfbench/run.py freeze              # recompute frozen digests
    python3 perfbench/run.py compare A.json B.json
    python3 perfbench/run.py summary perfbench/records/<commit>
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CACHE = os.path.join(HERE, ".cache")
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
STAMP = os.path.join(TARGET, "source-stamp.txt")
BENCHMARK_JSON = os.path.join(REPO, "BENCHMARK.json")

HEAP = "3g"
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

# The JDK 17 module openings Spark needs outside spark-submit (the same
# list as the root build's javaOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

# Provenance fields that must agree before two records may be compared.
HOST_FIELDS = ("nproc", "widths", "xmx_mb", "jdk", "spark", "corpus_version")


class BenchError(Exception):
    pass


# ---- statistics ------------------------------------------------------------

def median(xs):
    return statistics.median(xs)


def quartiles(xs):
    """(q1, q2, q3) exactly as statistics.quantiles(xs, n=4) gives them."""
    return tuple(statistics.quantiles(xs, n=4))


def iqr_share(xs):
    """Distance between first and third quartile, as a share of the median."""
    q1, _, q3 = quartiles(xs)
    return (q3 - q1) / median(xs)


# ---- build -----------------------------------------------------------------

def source_files():
    roots = [os.path.join(REPO, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for root in roots:
        if not os.path.isdir(root):
            raise BenchError(f"source directory missing: {os.path.relpath(root, REPO)}")
        for d, _, names in os.walk(root):
            files.extend(os.path.join(d, n) for n in names)
    return sorted(files)


def source_stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, REPO).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise BenchError("Spark not found: set SPARK_HOME or put spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not os.path.isdir(jars):
        raise BenchError(f"no jars directory under {home}")
    return jars


def build(log):
    stamp = source_stamp()
    if os.path.isfile(CLASSPATH) and os.path.isfile(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == stamp:
                return stamp
    sbt = shutil.which("sbt")
    if not sbt:
        raise BenchError("sbt not found on PATH")
    env = dict(os.environ, PERFBENCH_SPARK_JARS=spark_jars())
    env.setdefault("COURSIER_MODE", "offline")
    cmd = [sbt, "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.server.autostart=false", "writeClasspath"]
    with open(log, "ab") as out:
        r = subprocess.run(cmd, cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0 or not os.path.isfile(CLASSPATH):
        raise BenchError(f"build failed (exit {r.returncode}); see {os.path.relpath(log, REPO)}")
    with open(STAMP, "w") as fh:
        fh.write(stamp)
    return stamp


def java_cmd(*args):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else shutil.which("java")
    if not java:
        raise BenchError("java not found")
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return [java, *opens, f"-Xmx{HEAP}", f"-Xms{HEAP}", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Main", *map(str, args)]


def jvm(log, *args, timeout=RUN_TIMEOUT_S):
    """Runs one JVM command; its output goes to `log`. The JVM has ended
    when this returns or raises."""
    with open(log, "ab") as out:
        p = subprocess.Popen(java_cmd(*args), cwd=REPO, stdout=out,
                             stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            code = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            raise BenchError(f"JVM command {args[0]} timed out after {timeout} s")
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if code != 0:
        raise BenchError(f"JVM command {args[0]} exited {code}; see {os.path.relpath(log, REPO)}")


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def commit_key(stamp):
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=REPO, capture_output=True,
                           text=True, timeout=10)
        if r.returncode == 0 and r.stdout.strip():
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "src-" + stamp[:16]


# ---- metrics ---------------------------------------------------------------

def load_spec():
    with open(BENCHMARK_JSON) as fh:
        return json.load(fh)


def end_to_end(res):
    return {
        "docs_per_s": res["docs"] / median(res["pass_s"]),
        "setup_s": median(res["setup_s"]),
        "peak_heap_mb": res["peak_heap_mb"],
    }


def attempts(res):
    """(attempted, failed): documents over all timed passes. A pass's failed
    documents are those the gate found missing or with status timeout or
    parse_exception; every failed Spark task adds one."""
    if res["trace"]:
        passes = 1
    else:
        passes = len(res["pass_s"])
    attempted = res["docs"] * passes
    failed = res["gate"]["failed_docs"] * passes + int(res["failed_tasks"])
    return attempted, failed


def report(res, spec):
    section = "per_layer" if res["trace"] else "end_to_end"
    values = res["metrics"] if res["trace"] else end_to_end(res)
    metrics = {}
    for m in spec[section]:
        if m["name"] not in values:
            raise BenchError(f"run produced no value for metric {m['name']}")
        metrics[m["name"]] = {"value": values[m["name"]], "unit": m["unit"]}
    attempted, failed = attempts(res)
    return {"correct": bool(res["gate"]["ok"]), "attempted": attempted,
            "failed": failed, "metrics": metrics}


def compare(a_path, b_path):
    """Prints per-metric ratios of two records; refuses different hosts."""
    recs = []
    for p in (a_path, b_path):
        with open(p) as fh:
            recs.append(json.load(fh))
    prov = [r.get("raw", {}).get("provenance") for r in recs]
    for p, r in zip((a_path, b_path), prov):
        if not r or any(f not in r for f in HOST_FIELDS):
            raise BenchError(f"{p} is not a perfbench record with host fields; refusing to compare")
    diff = [f for f in HOST_FIELDS if prov[0][f] != prov[1][f]]
    if diff:
        raise BenchError("records come from different hosts or settings ("
                         + ", ".join(f"{f}: {prov[0][f]} vs {prov[1][f]}" for f in diff)
                         + "); refusing to compare")
    a, b = (r["result"]["metrics"] for r in recs)
    for name in sorted(set(a) & set(b)):
        va, vb = a[name]["value"], b[name]["value"]
        ratio = f"{vb / va:.3f}" if va else "n/a"
        print(f"{name:32s} {va:14.4f} {vb:14.4f}  x{ratio} {a[name]['unit']}")


def summary(record_dir):
    """Median and quartile spread of every metric over the records in
    `record_dir`, per workload, as one JSON object."""
    runs = {}
    for name in sorted(os.listdir(record_dir)):
        if name.endswith(".json"):
            with open(os.path.join(record_dir, name)) as fh:
                rec = json.load(fh)
            key = (rec["raw"]["workload"], "per_layer" if rec["raw"]["trace"] else "end_to_end")
            runs.setdefault(key, []).append(rec)
    out = {}
    for (workload, section), recs in sorted(runs.items()):
        entry = out.setdefault(workload, {})
        entry["provenance"] = recs[-1]["raw"]["provenance"]
        stats = {}
        for metric, m in recs[-1]["result"]["metrics"].items():
            xs = [r["result"]["metrics"][metric]["value"] for r in recs
                  if metric in r["result"]["metrics"]]
            st = {"unit": m["unit"], "n": len(xs), "median": median(xs)}
            if len(xs) >= 2:
                q1, _, q3 = quartiles(xs)
                st.update(q1=q1, q3=q3, iqr_share=iqr_share(xs) if median(xs) else None)
            stats[metric] = st
        entry[section] = {"seeds": [r["raw"]["seed"] for r in recs], "metrics": stats}
    print(json.dumps(out, indent=1, sort_keys=True))


# ---- commands --------------------------------------------------------------

def run_one(args):
    spec = load_spec()
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        raise BenchError(f"unknown workload {args.workload!r}; known: {', '.join(names)}")
    os.makedirs(WORK, exist_ok=True)
    log = os.path.join(WORK, f"{args.workload}-seed{args.seed}-trace{args.trace}.log")
    if os.path.exists(log):
        os.remove(log)
    stamp = build(os.path.join(WORK, "build.log"))
    n = nproc()
    jvm(log, "prepare", HERE, args.workload, args.seed, n, timeout=300)
    out = os.path.join(WORK, f"result-{os.getpid()}.json")
    record_dir = os.path.join(HERE, "records", commit_key(stamp))
    extra = [record_dir] if args.trace else []
    launch_ms = int(time.time() * 1000)
    jvm(log, "run", HERE, args.workload, args.seed, n, args.seconds, launch_ms, out, *extra)
    with open(out) as fh:
        res = json.load(fh)
    os.remove(out)
    result = report(res, spec)
    os.makedirs(record_dir, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{launch_ms}.json"
    with open(os.path.join(record_dir, name), "w") as fh:
        json.dump({"commit": commit_key(stamp), "source_stamp": stamp,
                   "args": vars(args), "result": result, "raw": res}, fh, indent=1)
    for p in res["gate"]["problems"]:
        print(f"gate: {p}", file=sys.stderr)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


def main(argv):
    if argv and argv[0] in ("selftest", "freeze", "compare", "summary"):
        os.makedirs(WORK, exist_ok=True)
        if argv[0] == "compare":
            compare(argv[1], argv[2])
            return 0
        if argv[0] == "summary":
            summary(argv[1])
            return 0
        build(os.path.join(WORK, "build.log"))
        log = os.path.join(WORK, f"{argv[0]}.log")
        if argv[0] == "freeze":
            jvm(log, "freeze", HERE, nproc(), timeout=1800)
            return 0
        import unittest
        sys.path.insert(0, HERE)
        suite = unittest.defaultTestLoader.loadTestsFromName("selftest")
        if not unittest.TextTestRunner(verbosity=1).run(suite).wasSuccessful():
            return 1
        jvm(log, "selftest")
        print("selftest: Python and JVM checks passed")
        return 0
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return run_one(ap.parse_args(argv))


def terminate(signum, frame):
    raise SystemExit(128 + signum)


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, terminate)
    try:
        sys.exit(main(sys.argv[1:]))
    except (BenchError, OSError, subprocess.SubprocessError, KeyError, ValueError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(1)
