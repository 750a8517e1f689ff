#!/usr/bin/env python3
"""Benchmark harness for the graft medallion engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
benchmark from source with sbt (perfbench/build.sbt) and caches the runtime
classpath under .bench_build/; later runs reuse it while the sources are
unchanged. Each run generates its inputs from the seed into a fresh directory
under .bench_build/runs/, runs one JVM with one Spark session, checks the
committed tables against DuckDB, deletes the run directory and prints one JSON
line last: the end-to-end metrics with --trace 0, the per-layer metrics with
--trace 1. A traced run also writes its spans to .bench_build/traces/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
DEADLINE_S = 170.0
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def source_digest():
    """Digest of every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "project"), os.path.join(ROOT, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    """Build if needed; return the source digest and the benchmark's runtime
    classpath, with its class directories packed into jars under
    .bench_build/jars/: the JVM's class-data sharing archives only jars."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("the engine sources (src/main/scala/graft) are not next to perfbench/")
    digest = source_digest()
    cache = os.path.join(BUILD, "classpath.json")
    if os.path.exists(cache):
        with open(cache) as f:
            c = json.load(f)
        if c.get("digest") == digest:
            return digest, c["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=HERE, stdout=out, stderr=subprocess.STDOUT, timeout=850)
    with open(log) as f:
        lines = [x.strip() for x in f if x.strip()]
    if r.returncode != 0 or not lines:
        fail("build failed, see %s" % log)
    jars = os.path.join(BUILD, "jars")
    for d in (jars, os.path.join(BUILD, "cds")):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(jars)
    entries = []
    for i, e in enumerate(lines[-1].split(os.pathsep)):
        if os.path.isdir(e):
            jar = os.path.join(jars, "%d.jar" % i)
            with zipfile.ZipFile(jar, "w") as z:
                for d, _, fs in os.walk(e):
                    for f in sorted(fs):
                        z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), e))
            e = jar
        entries.append(e)
    cp = os.pathsep.join(entries)
    with open(cache, "w") as f:
        json.dump({"digest": digest, "classpath": cp}, f)
    return digest, cp


def generate(spec, seed, input_dir):
    os.makedirs(input_dir, exist_ok=True)
    if spec["generator"] == "events":
        gen.gen_events(input_dir, seed, **spec["inputs"])
    else:
        gen.gen_documents(os.path.join(input_dir, "documents.parquet"), seed, **spec["inputs"])


def run_jvm(cp, cds, args, run_dir, timeout):
    """Runs the benchmark JVM. Its loaded classes are archived at exit to
    `cds` when that file is missing, and mapped from it otherwise, which
    takes class loading out of later runs' start-up."""
    log = os.path.join(run_dir, "jvm.log")
    os.makedirs(os.path.dirname(cds), exist_ok=True)
    share = ("-XX:SharedArchiveFile=" if os.path.exists(cds) else "-XX:ArchiveClassesAtExit=") + cds
    # C1 only: a run is too short for C2 to pay back its compile time, and
    # C2's background compiles were a large, uneven share of a run's CPU.
    # C1 alone would get a 48 MB code cache, which Spark and its generated
    # classes fill within a run; flushing and recompiling then made later
    # calls cost up to twice the CPU of earlier ones. 240 MB is the size
    # the JVM picks when C2 is on.
    cmd = (["java", "-Xmx" + CONFIG["session"]["driver_heap"], "-XX:+UseParallelGC",
            "-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=240m", share]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
              "-Dspark.local.dir=" + os.path.join(run_dir, "tmp"),
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", cp, "perfbench.Main"] + args)
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    return p.returncode, log


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    t_start = time.time()
    spec = CONFIG["workloads"].get(a.workload)
    if spec is None:
        fail("unknown workload %s" % a.workload)
    digest, cp = classpath()
    cds = os.path.join(BUILD, "cds", "%s-%s.jsa" % (digest[:16], a.workload))
    t_built = time.time()

    run_dir = os.path.join(BUILD, "runs", "%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    input_dir = os.path.join(run_dir, "input")
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.makedirs(os.path.join(run_dir, "work"))
    try:
        t0, c0 = time.time(), time.process_time()
        generate(spec, a.seed, input_dir)
        gen_s, gen_cpu = time.time() - t0, time.process_time() - c0
        params = dict(spec.get("settings", {}), nproc=nproc())
        if "page_size" in spec["inputs"]:
            params["page_size"] = spec["inputs"]["page_size"]
        with open(os.path.join(input_dir, "params.json"), "w") as f:
            json.dump(params, f)
        out = os.path.join(run_dir, "result.json")
        budget = DEADLINE_S - (time.time() - t_built) - 15
        t0 = time.time()
        code, log = run_jvm(cp, cds, ["--workload", a.workload, "--input", input_dir,
                                 "--work", os.path.join(run_dir, "work"),
                                 "--seconds", str(a.seconds), "--trace", str(a.trace),
                                 "--out", out], run_dir, budget)
        if not os.path.exists(out):
            keep_log(log, a)
            fail("the benchmark JVM exited with %s and no result" % code, 3)
        jvm_s = time.time() - t0
        with open(out) as f:
            res = json.load(f)
        t0 = time.time()
        if res["error"]:
            keep_log(log, a)
        found = []
        if not res["error"]:
            try:
                found = getattr(checks, a.workload)(input_dir, res)
            except Exception as e:  # a check that cannot run is a failed check
                found = [("duckdb_checks", False, repr(e))]
        found += [("jvm_" + k, v, "") for k, v in res["checks"].items()]
        correct = (not res["error"]) and bool(found) and all(ok for _, ok, _ in found)
        check_s = time.time() - t0
        if a.trace:
            save_spans(res, a)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    m = dict(res["metrics"])
    # set-up in calibrated CPU seconds, like every gated time: generation
    # plus the JVM's CPU up to the end of its warm-up step
    factor = res["info"].get("calibration_factor") or 1.0
    m["setup_s"] = gen_cpu * factor + m.pop("setup_in_jvm_s", 0.0)
    names = [x["name"] for x in BENCH["end_to_end" if a.trace == 0 else "per_layer"]]
    units = {x["name"]: x["unit"] for x in BENCH["end_to_end"] + BENCH["per_layer"]}
    metrics = {n: {"value": float(m.get(n) or 0.0), "unit": units[n]} for n in names}
    if a.trace == 0 and res["error"] is None:
        missing = [n for n in names if m.get(n) is None]
        if missing:
            correct = False
            print("perfbench: missing metrics " + ", ".join(missing), file=sys.stderr)
    for name, ok, detail in found:
        print("check %-28s %s %s" % (name, "ok" if ok else "FAILED", detail))
    print("info " + json.dumps(res["info"], sort_keys=True))
    print("ops attempted %d failed %d (base: every step, read and call)"
          % (res["attempted"], res["failed"]))
    print("wall %.1f s: build %.1f, generate %.1f, jvm %.1f, checks %.1f"
          % (time.time() - t_start, t_built - t_start, gen_s, jvm_s, check_s))
    print(json.dumps({"correct": correct, "attempted": max(1, res["attempted"]),
                      "failed": res["failed"], "metrics": metrics}))


def nproc():
    return min(CONFIG["session"]["nproc"], len(os.sched_getaffinity(0)))


def keep_log(log, a):
    d = os.path.join(BUILD, "logs")
    os.makedirs(d, exist_ok=True)
    shutil.copy(log, os.path.join(d, "%s-seed%d.log" % (a.workload, a.seed)))


def save_spans(res, a):
    d = os.path.join(BUILD, "traces")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, "%s-seed%d.json" % (a.workload, a.seed)), "w") as f:
        json.dump({"workload": a.workload, "seed": a.seed, "info": res["info"],
                   "metrics": res["metrics"], "spans": res.get("spans")}, f, indent=1)


with open(os.path.join(HERE, "workloads.json")) as _f:
    CONFIG = json.load(_f)
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)

if __name__ == "__main__":
    main()
