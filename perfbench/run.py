#!/usr/bin/env python3
"""Benchmark of the engine's own workloads: the paper's match ETL (in
memory and over HTTP), the training-data pipeline and a catalog mix.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
harness from source (sbt, offline) into perfbench/target; later runs reuse
the build while the sources are unchanged. Each run starts one fresh JVM
for one workload. The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}; the line before it carries
the per-run detail (samples, /proc/loadavg, set-up phases, failures).
See perfbench/README.md.
"""
import argparse
import contextlib
import hashlib
import io
import json
import math
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(HERE, "target")
WORK = os.path.join(HERE, ".work")
RESULTS = os.path.join(HERE, ".results")

BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 160

# Spark 4 on JDK 17 outside spark-submit needs these (the root build's
# jdk17AddOpens list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, n) for n in sorted(names)
                      if n.endswith((".scala", ".sbt", ".properties"))]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles engine + harness when the sources changed; returns the
    runtime classpath."""
    stamp = source_stamp()
    stamp_file = os.path.join(TARGET, "perfbench.stamp")
    cp_file = os.path.join(TARGET, "perfbench.classpath")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    os.makedirs(TARGET, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Xmx2g", "-Dsbt.server.autostart=false"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}", "-Dsbt.offline=true"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(TARGET, "build.log")
    with open(log, "w") as out:
        try:
            p = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {log}")
    with open(log) as f:
        lines = f.read().splitlines()
    cps = [l.strip() for l in lines if "scala-2.13" in l and ":" in l
           and not l.startswith("[")]
    if p.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed; see {log}")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


def oracle_check(data_dir, results_dir, queries):
    """Each query's result against its DuckDB oracle SQL on the same
    generated tables, through the repo's oracle check (tools/check.py).
    Returns one message per failing query."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import check
    # the generated catalog has only the tables the queries read
    check.TABLES = [t for t in check.TABLES
                    if os.path.exists(os.path.join(data_dir, f"{t}.parquet"))]
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        rc = check.main(data_dir, results_dir, set(queries))
    errors = [l for l in out.getvalue().splitlines() if l.startswith("FAIL")]
    return errors or (["oracle check failed"] if rc else [])


def main():
    # metric names and units are declared once, in BENCHMARK.json
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not os.path.isfile(os.path.join(ENGINE_SRC, "graft", "Pipeline.scala")):
        fail(f"engine sources not found under {ENGINE_SRC}; run from a checkout")
    if shutil.which("java") is None:
        fail("java not found on PATH")
    classpath = build()

    work = os.path.join(WORK, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(RESULTS, exist_ok=True)
    result_file = os.path.join(work, "result.json")
    jvm_log = os.path.join(work, "jvm.log")
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           # A fixed heap: a heap that G1 resizes after each run's full GC
           # falls into concurrent-marking cycles in some processes and not
           # in others, which doubles cpu_s between runs. A fixed set of JIT
           # threads: dynamic compiler threads exit and take their CPU time
           # with them, which breaks the JIT CPU accounting.
           + ["-Xms3g", "-Xmx3g", "-XX:-UseDynamicNumberOfCompilerThreads",
              "-Dsun.net.httpserver.nodelay=true",
              f"-Djava.io.tmpdir={work}/tmp",
              "-cp", classpath, "perfbench.Main", a.workload, str(a.seed),
              str(a.seconds), str(a.trace), work, result_file])
    try:
        with open(jvm_log, "w") as log:
            p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                                 stdin=subprocess.DEVNULL)
            try:
                rc = p.wait(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                rc = "timeout"
        if rc != 0 or not os.path.exists(result_file):
            with open(jvm_log, errors="replace") as f:
                sys.stderr.write("".join(f.readlines()[-60:]))
            fail(f"benchmark JVM exited with {rc}")
        with open(result_file) as f:
            res = json.load(f)

        attempted, failed = res["attempted"], res["failed"]
        failures = list(res["failures"])
        if "check" in res:
            chk = res["check"]
            errs = oracle_check(chk["data"], chk["results"], chk["queries"])
            attempted += len(chk["queries"])
            failed += len(errs)
            failures += errs
        if a.trace:
            # a layer the workload does not reach reads 0
            metrics = {m["name"]: {"value": res["per_layer"].get(m["name"], 0.0),
                                   "unit": m["unit"]} for m in spec["per_layer"]}
            spans = os.path.join(RESULTS, f"{a.workload}-seed{a.seed}-spans.jsonl")
            shutil.copyfile(res["spans"], spans)
            res["spans"] = os.path.relpath(spans, ROOT)
        else:
            metrics = {m["name"]: {"value": res["end_to_end"][m["name"]], "unit": m["unit"]}
                       for m in spec["end_to_end"]}
        detail = dict(res, failures=failures)
        with open(os.path.join(RESULTS, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"),
                  "w") as f:
            json.dump(detail, f, indent=1)
        print(json.dumps({"detail": detail}))
        print(json.dumps({"correct": failed == 0 and all(
                              math.isfinite(m["value"]) for m in metrics.values()),
                          "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
