#!/usr/bin/env python3
"""Corpus-scale benchmark of the graft engine.

Run from the root of a checkout:

    python3 corpusbench/run.py --workload tanakh_align --seed 1 --seconds 15 --trace 0
    python3 corpusbench/run.py --workload curation --seed 1 --seconds 15 --trace 1
    python3 corpusbench/run.py --smoke          # every workload, smallest size

The first run builds the engine and the benchmark from source with sbt
(into the checkout's `.bench_build/` and sbt's `target/` directories); later
runs reuse the build while the sources are unchanged. Each run gets a fresh
temporary root under `.bench_build/`, removed when the run ends.

The last line of standard output is the result:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
holding the end-to-end metrics of BENCHMARK.json (`--trace 0`) or its
per-layer metrics (`--trace 1`). The full record of the run, with host
evidence (nproc, load1 before every sample, calibration readings), is
written to `.bench_build/artifacts/`.
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

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
BUILD = os.path.join(ROOT, ".bench_build")
# A heap that is reserved at its full size but not pre-touched: a page
# counts in the RSS only once the program writes to it. The parallel
# collector bump-allocates and compacts toward the bottom of each space,
# so the peak RSS (VmHWM) is the 1 GB young generation, which the first
# collection cycle fills, plus the old generation's high-water use plus
# native memory; what the engine keeps live moves it. A fixed size keeps
# heap resizing out of the timings (a heap grown from a small start made
# `tanakh_align` passes GC-bound, ~2x slower, on a 4-core host).
JVM_MEMORY = ["-Xms3g", "-Xmx3g", "-Xmn1g", "-XX:+UseParallelGC",
              "-XX:-UseAdaptiveSizePolicy"]
JAVA_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print("corpusbench: " + msg, file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads, so an edit triggers a rebuild."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"),
              os.path.join(ROOT, "project", "build.properties"),
              os.path.join(BENCH_DIR, "build.sbt"),
              os.path.join(BENCH_DIR, "project", "build.properties")]
    for src in (os.path.join(ROOT, "src", "main"),
                os.path.join(BENCH_DIR, "src", "main")):
        for d, dirs, files in os.walk(src):
            dirs.sort()
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        h.update(p[len(ROOT):].encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compile engine + benchmark with sbt once; return the classpath."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("the engine sources (build.sbt, src/main/scala/graft) are not "
             "next to the benchmark; run from the root of a full checkout")
    for tool in ("sbt", "java"):
        if shutil.which(tool) is None:
            fail(f"{tool} is not on PATH")
    stamp = source_stamp()
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    if os.path.isfile(stamp_file) and os.path.isfile(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
           "compile", "export corpusbench/Runtime/fullClasspath"]
    proc = subprocess.Popen(cmd, cwd=BENCH_DIR, env=env, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=840)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail("the build did not finish in time")
    lines = out.strip().splitlines()
    if proc.returncode != 0 or not lines or "scala-library" not in lines[-1]:
        sys.stderr.write(out[-8000:])
        fail(f"build failed (sbt exit {proc.returncode})")
    classpath = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(classpath)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath


def run_java(classpath, java_args, tmp):
    cmd = (["java"] + JVM_MEMORY + [f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false",
            "-Dlog4j.configurationFile=" + os.path.join(BENCH_DIR, "log4j2.properties")]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JAVA_OPENS]
           + ["-cp", classpath, "corpusbench.Main"] + java_args)
    # one malloc arena per core instead of glibc's eight, as Hadoop's
    # launch scripts do for its JVMs (they set 4): with more, native
    # memory scatters over arenas by thread scheduling and the peak RSS
    # of one seed differs from the next by ~8% instead of ~5%; with 2 the
    # arenas contend and passes take ~2x longer, on a 4-core host
    env = dict(os.environ, MALLOC_ARENA_MAX=str(len(os.sched_getaffinity(0))))
    proc = subprocess.Popen(cmd, cwd=tmp, env=env, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, text=True,
                            start_new_session=True)

    def stop(*_):
        try:
            os.killpg(proc.pid, signal.SIGTERM)
        except ProcessLookupError:
            pass

    signal.signal(signal.SIGTERM, lambda *a: (stop(), sys.exit(143)))
    try:
        out, _ = proc.communicate(timeout=170 if "--smoke" not in java_args else 600)
    except subprocess.TimeoutExpired:
        stop()
        proc.wait()
        fail("the run did not finish in time")
    finally:
        if proc.poll() is None:
            stop()
            proc.wait()
    result = None
    for line in out.splitlines():
        if line.startswith("RESULT "):
            result = json.loads(line[len("RESULT "):])
        else:
            print(line, file=sys.stderr)
    if proc.returncode != 0 or result is None:
        fail(f"the benchmark process failed (exit {proc.returncode})")
    return result


def run_in_tmp(classpath, java_args):
    """Run the JVM in a fresh temporary root that is removed afterwards."""
    os.makedirs(os.path.join(BUILD, "runs"), exist_ok=True)
    tmp = os.path.join(BUILD, "runs", f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(tmp)
    try:
        return run_java(classpath, java_args + ["--tmp", tmp], tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def load_spec():
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(path):
        fail("BENCHMARK.json not found at the checkout root")
    with open(path) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="run every workload once at the smallest size")
    a = ap.parse_args()
    spec = load_spec()
    names = [w["name"] for w in spec["workloads"]]
    if a.smoke:
        workload, seconds = "all", 1.0
    elif a.workload in names:
        workload, seconds = a.workload, a.seconds
    else:
        fail(f"--workload must be one of {names}")

    classpath = build()
    java_args = ["--workload", workload, "--seed", str(a.seed),
                 "--seconds", str(seconds), "--trace", str(a.trace)] + \
        (["--smoke"] if a.smoke else [])
    load_before = os.getloadavg()[0]
    res = run_in_tmp(classpath, java_args)
    res["host"]["load1_before_jvm"] = load_before
    res["args"] = vars(a)
    os.makedirs(os.path.join(BUILD, "artifacts"), exist_ok=True)
    tag = f"{workload}-seed{a.seed}-trace{a.trace}-{time.strftime('%Y%m%dT%H%M%S')}"
    with open(os.path.join(BUILD, "artifacts", tag + ".json"), "w") as f:
        json.dump(res, f, indent=1)

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    ok = True
    for w in res["workloads"]:
        m = w["metrics"]
        print(f"[{w['workload']}] timed_passes={w['timed_passes']} window={w['window_s']:.1f}s "
              f"correct={w['correct']} attempted={w['attempted']} failed={w['failed']} "
              f"load1={max(w['load1']):.2f} nproc={res['host']['nproc']} "
              f"calib={res['host']['calib_s_start']:.3f}/{res['host']['calib_s_end']:.3f}s "
              f"items={w['item_unit']}")
        for k in sorted(m):
            print(f"  {k} = {m[k]:.6g}")
        ok = ok and w["correct"] and w["failed"] == 0
    if a.smoke:
        print(json.dumps({"correct": ok, "smoke": True,
                          "workloads": [w["workload"] for w in res["workloads"]]}))
        sys.exit(0 if ok else 1)

    w = res["workloads"][0]
    metrics = {}
    for spec_m in wanted:
        name = spec_m["name"]
        value = w["metrics"].get(name)
        if value is None:
            if not a.trace:
                fail(f"end-to-end metric {name} was not measured")
            value = 0.0  # the layer did not run on this workload
        metrics[name] = {"value": value, "unit": spec_m["unit"]}
    print(json.dumps({"correct": bool(w["correct"]) and w["failed"] == 0,
                      "attempted": int(w["attempted"]), "failed": int(w["failed"]),
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
