#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run in a checkout builds the
program and this harness from source with sbt (offline) into
`.bench_build/`; later runs reuse the build while the sources are
unchanged. The run generates the workload's inputs from the seed, runs
the workload in one JVM at local[<cores>] with shuffle partitions equal
to the cores, checks every output against an independent recomputation,
and prints the metrics of BENCHMARK.json as the last stdout line.
`--trace 0` prints the end-to-end metrics, `--trace 1` the per-layer
ones. A full record of the run (every iteration, span, job and stage,
the corpus statistics and the interference probes) goes to
`.bench_build/records/`. See perfbench/METRICS.md.
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

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True    # write nothing into the benchmark's directory

import checks  # noqa: E402
import gen_catalog  # noqa: E402
import gen_reports  # noqa: E402
import interference  # noqa: E402
import metrics  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("reports_wide", "catalog_slice")
# the catalog corpus: a multiple of the sf0.01 row counts (10 = sf0.1)
CATALOG_SCALE = 0.1
# a fixed-size heap with a fixed young generation: the resident set then
# follows the program's live data, not the collector's adaptive sizing
HEAP = ["-Xms4g", "-Xmx4g", "-Xmn768m"]
# wall-clock limit for the benchmark JVM, leaving room for build and checks
JVM_TIMEOUT_S = 150
# the same list the program's build passes to forked JVMs (JDK 17 + Spark 4)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Hash of everything the build reads from the checkout."""
    h = hashlib.sha256()
    roots = ["build.sbt", "project", "src/main", "perfbench/build.sbt",
             "perfbench/project", "perfbench/src"]
    for r in roots:
        top = os.path.join(ROOT, r)
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, dirs, files in os.walk(top)
            if "target" not in os.path.relpath(d, top).split(os.sep)
            for f in files)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the program and the harness; return the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("run from the repository root: the program's build.sbt and "
             "src/main/scala are not here")
    os.makedirs(BUILD, exist_ok=True)
    digest = source_digest()
    stamp = os.path.join(BUILD, "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            saved = json.load(f)
        if saved["digest"] == digest:
            return saved["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={BUILD}/tmp"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as f:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=os.path.join(ROOT, "perfbench"), env=env, stdout=f,
            stderr=subprocess.STDOUT, timeout=840)
    with open(log) as f:
        lines = f.read().splitlines()
    cps = [ln for ln in lines if "scala-2.13/classes" in ln and ":" in ln
           and not ln.startswith("[")]
    if r.returncode != 0 or not cps:
        fail(f"build failed, see {log}")
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": cps[-1]}, f)
    return cps[-1]


def generate(workload, seed):
    """The workload's inputs, cached per seed and generator source."""
    gen = gen_catalog if workload == "catalog_slice" else gen_reports
    with open(gen.__file__, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    base = os.path.join(BUILD, "inputs", f"{workload}-{seed}-{version}")
    done = os.path.join(base, "done.json")
    if not os.path.exists(done):
        shutil.rmtree(base, ignore_errors=True)
        if workload == "catalog_slice":
            stats = gen_catalog.write_corpus(seed, CATALOG_SCALE, base)
        else:
            stats = gen_reports.write_corpus(seed, base)["stats"]
        with open(done, "w") as f:
            json.dump(stats, f)
    with open(done) as f:
        return base, json.load(f)


def run_jvm(classpath, workload, inputs, out, seconds, trace, cores):
    record = os.path.join(out, "record.json")
    cmd = (["java"] + HEAP + ["-XX:-UsePerfData", f"-Djava.io.tmpdir={out}/tmp"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main",
              "--workload", workload, "--inputs", inputs, "--out", out,
              "--seconds", str(seconds), "--trace", str(trace),
              "--cores", str(cores), "--record", record,
              "--queries", ",".join(metrics.CATALOG)])
    os.makedirs(f"{out}/tmp", exist_ok=True)
    log = os.path.join(out, "jvm.log")
    spawn_ms = time.time() * 1000
    with open(log, "w") as f:
        proc = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"benchmark JVM exceeded {JVM_TIMEOUT_S} s, see {log}")
        finally:                 # also on SIGTERM: never leave the JVM behind
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0 or not os.path.exists(record):
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"benchmark JVM exited with {code}, see {log}")
    with open(record) as f:
        rec = json.load(f)
    rec["setup"]["spawn_ms"] = spawn_ms
    return rec


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cores = len(os.sched_getaffinity(0))

    classpath = build()
    inputs, corpus = generate(a.workload, a.seed)
    out = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    before = interference.probe()
    rec = run_jvm(classpath, a.workload, inputs, out, a.seconds, a.trace, cores)
    after = interference.probe()
    verdicts = checks.check_run(a.workload, inputs, out, rec, metrics.CATALOG)
    result = metrics.summarize(rec, verdicts, a.trace)
    record = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
              "seconds": a.seconds, "cores": cores, "heap": HEAP,
              "corpus": corpus, "interference": {"before": before, "after": after},
              "checks": verdicts, "result": result, "raw": rec}
    os.makedirs(os.path.join(BUILD, "records"), exist_ok=True)
    rec_path = os.path.join(BUILD, "records", os.path.basename(out) + ".json")
    with open(rec_path, "w") as f:
        json.dump(record, f)
    shutil.rmtree(out, ignore_errors=True)
    print(f"[perfbench] record: {rec_path}")
    print(f"[perfbench] corpus: {json.dumps(corpus)}")
    print(f"[perfbench] interference: {json.dumps(record['interference'])}")
    print(f"[perfbench] details: {json.dumps(result['details'])}")
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
