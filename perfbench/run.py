#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload operator_mix --seed 1 --seconds 60 --trace 0

Run from the repository root. The first run builds the program and the
harness with sbt (offline) and caches the classpath under .bench_build/;
each run then generates its inputs from the seed under .bench_work/,
runs the workload in one JVM on local[nproc], checks the outputs, and
prints one JSON object as the last line of stdout. See
perfbench/README.md for the workloads and metrics.
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

import gen  # noqa: E402
import metrics  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
DATA = os.path.join(HERE, "data")
EXPECTED = os.path.join(HERE, "expected")
CORES = len(os.sched_getaffinity(0))

# Sizes per workload: fixed work per run, so two commits do the same work.
SIZES = {
    "tfl_weekly_etl": {"weeks": 4, "rows_per_week": 50000},
    "curation_cadence": {"docs": 300, "batches": 2, "bench": 2,
                         "probes_per_family": 4},
    "operator_mix": {},
}

# The JVM options the program's build.sbt gives a forked run: Spark on
# JDK 17 outside spark-submit needs these opens.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_child(cmd, timeout, **kw):
    """Run `cmd` to completion; on timeout, a signal or any error, kill it
    and wait, so no child outlives this process."""
    p = subprocess.Popen(cmd, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    finally:
        if p.poll() is None:
            p.kill()
            p.wait()


def tree_digest(root):
    h = hashlib.sha256()
    for d, dirs, files in os.walk(root):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def source_hash():
    """Hash of everything the build compiles, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the program and the harness; return the runtime classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise SystemExit(f"perfbench: {need} not found under {ROOT}; "
                             "run from the repository root")
    os.makedirs(BUILD, exist_ok=True)
    stamp = os.path.join(BUILD, "classpath.json")
    digest = source_hash()
    if os.path.exists(stamp):
        with open(stamp) as f:
            cached = json.load(f)
        if cached.get("hash") == digest:
            return cached["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building program and harness with sbt")
    with open(os.path.join(BUILD, "build.log"), "w") as logf:
        rc, out = run_child(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export Runtime/fullClasspath"],
            850, cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=logf,
            text=True)
    lines = [l for l in out.splitlines() if l.strip()]
    with open(os.path.join(BUILD, "build.log"), "a") as logf:
        logf.write(out)
    if rc != 0 or not lines or ".jar" not in lines[-1]:
        raise SystemExit(f"perfbench: build failed (rc={rc}); "
                         f"see {os.path.join(BUILD, 'build.log')}")
    cp = lines[-1].strip()
    with open(stamp, "w") as f:
        json.dump({"hash": digest, "classpath": cp}, f)
    return cp


def generate(workload, seed, inputs):
    sz = SIZES[workload]
    if workload == "tfl_weekly_etl":
        return gen.gen_tfl(inputs, seed, sz["weeks"], sz["rows_per_week"])
    if workload == "curation_cadence":
        return gen.gen_corpus(inputs, seed, sz["docs"], sz["batches"],
                              sz["bench"], sz["probes_per_family"])
    if workload == "operator_mix":
        manifest = gen.gen_operators()
        manifest["expected"] = load_json(os.path.join(EXPECTED, "operators.json"))
        return manifest
    raise SystemExit(f"perfbench: unknown workload {workload}")


def run_jvm(cp, workload, inputs, work, trace):
    result = os.path.join(work, "result.json")
    launch_ms = int(time.time() * 1000)
    cmd = ["java", "-Xms2g", "-Xmx2g",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", workload, inputs, work,
            str(trace), result, str(launch_ms), DATA]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    env = dict(os.environ, PERFBENCH_CORES=str(CORES),
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    jvm_log = os.path.join(work, "jvm.log")
    try:
        with open(jvm_log, "w") as logf:
            rc, _ = run_child(cmd, 170, stdout=logf,
                              stderr=subprocess.STDOUT, env=env)
    except subprocess.TimeoutExpired:
        rc = "timeout"
    if rc != 0 or not os.path.exists(result):
        with open(jvm_log, errors="replace") as f:
            lines = f.readlines()
        sys.stderr.writelines([l for l in lines if l.startswith("[perfbench]")]
                              + lines[-40:])
    if not os.path.exists(result):
        raise SystemExit(f"perfbench: harness wrote no result (rc={rc})")
    with open(result) as f:
        res = json.load(f)
    if "error" in res:
        raise SystemExit(f"perfbench: harness failed: {res['error']}")
    if rc != 0:
        raise SystemExit(f"perfbench: harness exited {rc}")
    return res


def load_json(path):
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        return json.load(f)


def fail_op(op, why):
    op["ok"] = False
    op["note"] = (op["note"] + "; " if op["note"] else "") + why


def check_fingerprints(workload, seed, res, inputs):
    """Same inputs, same outputs. Every pass's fingerprint must equal the
    expected one: from perfbench/expected/cadence.json, keyed by seed and
    input digest, or, for inputs not listed there, the one the first run
    on identical inputs recorded in .bench_work/fingerprints.json. A
    mismatch fails the pass's last operation. Returns report lines."""
    prints = res.get("fingerprints", [])
    if not prints:
        return []
    key = f"{workload}/{seed}/{tree_digest(inputs)}"
    want = load_json(os.path.join(EXPECTED, "cadence.json")).get(key)
    source = "perfbench/expected/cadence.json"
    if want is None:
        store = os.path.join(WORK, "fingerprints.json")
        known = load_json(store)
        want = known.setdefault(key, prints[0])
        os.makedirs(WORK, exist_ok=True)
        with open(store, "w") as f:
            json.dump(known, f)
        source = "an earlier run (not in perfbench/expected/cadence.json)"
    latency_ops = [o for o in res["ops"] if o["latency"]]
    per_pass = len(latency_ops) // len(prints)
    for i, fp in enumerate(prints):
        if fp != want:
            fail_op(latency_ops[(i + 1) * per_pass - 1],
                    f"fingerprint differs from {source}")
    return [f"[perfbench] fingerprint {json.dumps({key: prints[-1]})}"]


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    # Part of the benchmark interface; the work per run is fixed by the
    # workload and the seed, so two commits always do the same work.
    ap.add_argument("--seconds", type=int, default=60)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    # A terminated run still reaps its children (see run_child).
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cp = build()
    work = os.path.join(WORK, f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        out = measure(a, cp, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for line in out.pop("report"):
        print(line)
    print(json.dumps(out))


def measure(a, cp, work):
    """Generate, run, check; the result object with its report lines."""
    inputs = os.path.join(work, "inputs")
    os.makedirs(inputs)
    t0 = time.time()
    manifest = generate(a.workload, a.seed, inputs)
    gen_s = time.time() - t0
    with open(os.path.join(inputs, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    res = run_jvm(cp, a.workload, inputs, work, a.trace)
    checked = check_fingerprints(a.workload, a.seed, res, inputs)
    input_bytes = sum(os.path.getsize(os.path.join(d, f))
                      for d, _, fs in os.walk(inputs) for f in fs)
    out = metrics.summarize(a.workload, manifest, res, gen_s, a.trace == 1,
                            input_bytes)
    out["report"] += checked
    return out


if __name__ == "__main__":
    main()
