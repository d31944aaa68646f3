#!/usr/bin/env python3
"""The repository's benchmark: one workload, one seed, one result line.

Usage (from the repository root):
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark from source (cached in .bench_build/),
generates the workload's inputs from the seed in a separate generator
process, runs the measured JVM over them, checks every operation's output
and prints as its last line one JSON object:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end metrics, with --trace 1 the
per-layer metrics (the traced run also times each call into the engine
and attributes Spark stage metrics to it).
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import check  # noqa: E402
from metrics import CATALOG_QUERIES, END_TO_END, PER_LAYER, WORKLOADS  # noqa: E402

JVM_OPTS = [
    *[f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")],
    "-Xmx3g", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
]
RUN_LIMIT_S = 170


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    """Digest of everything the build compiles, to reuse a finished build."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the engine plus the benchmark with sbt; returns the runtime
    classpath. A build whose source digest matches is reused."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        die("the engine's sources (build.sbt, src/main/scala) are not next to perfbench/")
    digest = source_digest()
    stamp = os.path.join(BUILD, "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            saved = json.load(f)
        if saved["digest"] == digest:
            return saved["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g" + (
        f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
        if os.path.exists(repos) else ""))
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
            timeout=800).returncode
    with open(log) as f:
        lines = f.read().splitlines()
    cp = [ln for ln in lines if "scala-2.13/classes" in ln and not ln.startswith("[")]
    if rc != 0 or not cp:
        print("\n".join(lines[-30:]), file=sys.stderr)
        die(f"build failed (exit {rc})", 1)
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": cp[-1]}, f)
    return cp[-1]


def run_jvm(classpath, workload, work, seconds, trace, deadline):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    cmd = ["java", *JVM_OPTS, f"-Djava.io.tmpdir={tmp}", f"-Dspark.hadoop.hadoop.tmp.dir={tmp}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-cp", classpath, "perfbench.Main", workload, work, str(seconds), str(trace)]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0:
        with open(log) as f:
            print("".join(f.readlines()[-40:]), file=sys.stderr)
        die(f"measured process failed ({rc})", 1)
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def evaluate(workload, work, exp, res):
    """Check every operation; returns (attempted, failed, messages, good
    operations)."""
    ops = res["ops"]
    if workload == "bulk_restructure":
        ok, msgs = check.check_bulk(work, exp, ops)
        if "clean_ops" in res:  # the traced run's cleaner leg
            cok, cmsgs = check.check_clean(exp, res["clean_ops"])
            ok, msgs = ok + cok, msgs + cmsgs
    else:
        ok, msgs = check.check_catalog(work, CATALOG_QUERIES, ops,
                                       os.path.join(BUILD, "oracle_cache.json"))
        flat = [v for per_query in ok for v in per_query.values()]
        good = [{q: op["queries"][q] for q in CATALOG_QUERIES if o[q]} for op, o in zip(ops, ok)]
        return len(flat), flat.count(False), msgs, good
    return len(ok), ok.count(False), msgs, [op for op, o in zip(ops, ok) if o]


def end_to_end(workload, exp, res, good):
    # everything before the first measured operation, with the repeated
    # staging step counted once at its median
    setup = res["until_first_op_s"] - sum(res["staging_s"]) + median(res["staging_s"])
    # the warm minimum: the fastest run of each operation, which the first
    # measured runs (still JIT-compiling) and host interference rarely set
    if workload == "catalog_core":
        warm = sum(min(op[q] for op in good if q in op) for q in CATALOG_QUERIES
                   if any(q in op for op in good))
        rows = sum(exp["events"] if q == "interval_overlap" else exp["documents"]
                   for q in CATALOG_QUERIES)
    else:
        warm = min(op["wall_s"] for op in good) if good else 0.0
        rows = exp["records"]
    return {"setup_s": setup, "warm_pass_s": warm, "records_per_s": rows / warm if warm else 0.0}


def per_layer(workload, exp, res, good, attempted, failed):
    m = {name: 0.0 for name in PER_LAYER}
    m.update({k: v for k, v in res["layers"].items() if k in m})
    m["setup.session_s"] = res["session_s"]
    m["peak_rss_mb"] = res["peak_rss_mb"]
    m["error_rate"] = failed / attempted
    plain = [op for op in good if not op.get("traced")]
    if workload == "catalog_core":
        for q in CATALOG_QUERIES:
            times = [op[q] for op in good if q in op]
            m[f"catalog.{q}_s"] = min(times) if times else 0.0
    elif plain:
        written = sum(op["records"] for op in plain)
        m["output_files"] = median([op["output_files"] for op in plain])
        m["output_bytes_per_record"] = sum(op["output_bytes"] for op in plain) / max(1, written)
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true", help="keep the work directory")
    args = ap.parse_args()

    t0 = time.monotonic()
    classpath = build()
    deadline = time.monotonic() + RUN_LIMIT_S
    stages = {"build": time.monotonic() - t0}
    work = os.path.join(BUILD, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        gen = subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), args.workload,
                              str(args.seed), work], stdin=subprocess.DEVNULL,
                             timeout=max(1.0, deadline - time.monotonic()))
        if gen.returncode != 0:
            die("input generation failed", 1)
        stages["generate"] = time.monotonic() - t0 - sum(stages.values())
        with open(os.path.join(work, "expected.json")) as f:
            exp = json.load(f)
        res = run_jvm(classpath, args.workload, work, args.seconds, args.trace, deadline)
        stages["measure"] = time.monotonic() - t0 - sum(stages.values())
        attempted, failed, msgs, good = evaluate(args.workload, work, exp, res)
        stages["check"] = time.monotonic() - t0 - sum(stages.values())
        for m in msgs:
            print(f"perfbench: check failed: {m}", file=sys.stderr)
        correct = failed == 0 and not msgs
        if args.trace:
            values = per_layer(args.workload, exp, res, good, attempted, failed)
            units = PER_LAYER
        else:
            values = end_to_end(args.workload, exp, res, good)
            units = {m["name"]: m["unit"] for m in END_TO_END}
        metrics = {k: {"value": values[k], "unit": units[k]} for k in units}
    finally:
        if not args.keep:
            shutil.rmtree(work, ignore_errors=True)
    print("perfbench: " + ", ".join(f"{k} {v:.1f} s" for k, v in stages.items()), file=sys.stderr)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
