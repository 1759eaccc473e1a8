#!/usr/bin/env python3
"""graft benchmark: one workload, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
harness with sbt (perfbench/build.sbt refers to the root build, which is not
edited); later runs reuse the build while no source changed. The harness JVM
writes a raw artifact; this script checks the program's outputs against
computations made apart from it, turns the artifact into metrics and prints
one JSON line last: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. Each run keeps its record under perfbench/runs/.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen_tables  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("scene-wind", "scene-streaks", "query-mix")
MAX_CORES = 4
HEAP = "3g"
RUN_LIMIT_S = 170.0
# Spark 4 on JDK 17 outside spark-submit needs these (the root build's list)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every input of the build; a change forces a rebuild."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """(classpath, source stamp) of the built harness, building first when
    needed."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("the program's sources are not here: run from the root of a graft checkout")
    target = os.path.join(HERE, "target")
    cp_file = os.path.join(target, "classpath.txt")
    stamp_file = os.path.join(target, "source.stamp")
    stamp = source_stamp()
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read(), stamp
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    os.makedirs(target, exist_ok=True)
    log = os.path.join(target, "build.log")
    with open(log, "w") as lf:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                           cwd=HERE, stdout=lf, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=840)
    if p.returncode != 0 or not os.path.isfile(cp_file):
        with open(log) as lf:
            sys.stderr.write(lf.read()[-4000:])
        fail(f"build failed (log: {log})")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as g:
        return g.read(), stamp


def bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def cores():
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, min(MAX_CORES, n))


def run_jvm(cp, args, out, luts, run_start, deadline):
    # temp files (native-library extraction and the like) stay in the run
    # directory; no hsperfdata file in the system temp directory either
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp)
    cmd = (["java", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", args.workload, str(args.seed), str(args.seconds),
              str(args.trace), out, str(cores()), str(int(run_start * 1000)), luts])
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores()))
    with open(os.path.join(out, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=out, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, env=env)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail("the harness ran past the run limit and was stopped", code=3)
    if rc != 0:
        with open(os.path.join(out, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"harness exited with {rc}", code=3)


def main():
    t_start = time.time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    cp, stamp = build()
    # the LUTs scene-wind's checker reads depend on the program alone: one
    # export per build
    luts = os.path.join(HERE, "target", f"luts-{stamp[:16]}")
    # set-up time runs from here: inputs, JVM, session, memos, first cold pass
    run_start = time.time()
    now = time.strftime("%Y%m%dT%H%M%S", time.gmtime())
    out = os.path.join(HERE, "runs", f"{args.workload}-seed{args.seed}-trace{args.trace}-{now}-{os.getpid()}")
    os.makedirs(out)
    if args.workload == "query-mix":
        gen_tables.generate(os.path.join(out, "tables"), args.seed)
        gen_tables.generate(os.path.join(out, "tables-fixed"), gen_tables.FIXED_SEED, only={"embeddings"})
    # checks and clean-up after the harness take a few seconds
    run_jvm(cp, args, out, luts, run_start, run_start + RUN_LIMIT_S - 15)
    with open(os.path.join(out, "artifact.json")) as f:
        art = json.load(f)
    t_checks = time.time()
    res = checks.run(args.workload, art, out, cores())
    checks_s = time.time() - t_checks
    attempted, failed = metrics.counts(art, checks.known_faults(res))
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "checks": res, "checks_s": checks_s, "attempted": attempted, "failed": failed}
    if args.trace:
        layers, record["self_s"] = metrics.per_layer(art, out)
        record["layers"] = layers
        # every per-layer metric of BENCHMARK.json; 0 for a layer this
        # workload does not reach
        ms = {m["name"]: layers.get(m["name"], (0.0, m["unit"])) for m in bench()["per_layer"]}
    else:
        ms = metrics.end_to_end(art)
        record["raw"] = metrics.raw_end_to_end(art)
        record["op_wall_s"] = metrics.op_walls(art)
    record["metrics"] = ms
    record["wall_s"] = time.time() - t_start
    with open(os.path.join(out, "result.json"), "w") as f:
        json.dump(record, f, indent=1)
    for d in ("inputs", "products", "outputs", "spark-local", "warehouse", "duckdb-tmp", "tables", "tables-fixed", "tmp"):
        shutil.rmtree(os.path.join(out, d), ignore_errors=True)
    # a known fault fails its ops (counted in `failed`), not the run
    correct = all(c["ok"] or c.get("known_fault") for c in res)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v[0], "unit": v[1]} for k, v in ms.items()}}))


if __name__ == "__main__":
    main()
