"""Zero-ETL pipeline benchmark: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload serve_static --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds the engine and the harness from source
(perfbench/build.py) into .bench_build/, runs the workload in its own JVM on
a local[nproc] Spark session, checks its outputs, and prints one JSON object
as the last line of stdout: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones (see metrics.py). The full record of the run, with its health
record and raw spans, is written to .bench_build/results/.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import metrics  # noqa: E402

DEADLINE_S = 170  # the whole run, build excluded
# The JVM compiles with C1 only (-XX:TieredStopAtLevel=1). A run lasts under
# a minute, too short for C2 to pay off: with the default tiers C2 spent
# about 90 CPU-seconds compiling in a corpus_curate run, half the process's
# CPU, competing with the workload for the cores, and C1-only runs did the
# same operations in about the same time on half the CPU. C1 only shrinks
# the default code cache to 48 MB, which serve_static filled mid-phase
# (after which the JVM stops compiling, or fails), so the cache is set back
# to the tiered default of 240 MB.
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_times():
    """(total, steal) jiffies over all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        xs = [int(x) for x in f.readline().split()[1:]]
    return sum(xs), (xs[7] if len(xs) > 7 else 0)


def class_archive(workload):
    """JVM flags for the workload's class-data archive, and the (written,
    final) paths of an archive this run is to write. The first run of a
    workload after a build records the classes it loaded into an archive as
    its JVM exits; later runs map that archive instead of looking each class
    up in about 290 jars, which cut a serve_static run by about 7 s."""
    path = os.path.join(build.CDS, workload + ".jsa")
    if os.path.exists(path):
        return ["-XX:SharedArchiveFile=" + path], None
    os.makedirs(build.CDS, exist_ok=True)
    tmp = "%s.%d.tmp" % (path, os.getpid())
    return ["-XX:ArchiveClassesAtExit=" + tmp], (tmp, path)


def run_jvm(classpath, jvm_flags, args, work, timeout_s, log_path):
    opens = [x for o in JVM_OPENS for x in ("--add-opens", o + "=ALL-UNNAMED")]
    cmd = (["java", "-Xmx3g", "-XX:+UseG1GC", "-XX:TieredStopAtLevel=1",
            "-XX:ReservedCodeCacheSize=240m", "-Djava.io.tmpdir=" + work]
           + jvm_flags + opens
           + ["-cp", os.pathsep.join(classpath), "perfbench.Main"] + args)
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work,
                             start_new_session=True)
        try:
            return p.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=[n for n, _ in metrics.WORKLOADS + metrics.EXTRA_WORKLOADS])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    try:
        classpath = build.ensure()
    except (RuntimeError, OSError) as e:
        sys.stderr.write("[perfbench] build failed: %s\n" % e)
        return 2

    started = time.time()
    tag = "%s-s%d-t%d" % (a.workload, a.seed, a.trace)
    work = os.path.join(build.BUILD, "work", "%s-%d" % (tag, os.getpid()))
    results = os.path.join(build.BUILD, "results")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(results, exist_ok=True)
    raw_path = os.path.join(work, "raw.json")
    log_path = os.path.join(results, tag + ".log")
    load_start, cpu_start = loadavg(), cpu_times()
    flags, archive = class_archive(a.workload)
    try:
        code = run_jvm(classpath, flags, [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--dir", work, "--out", raw_path], work,
            DEADLINE_S - (time.time() - started), log_path)
        if archive and os.path.exists(archive[0]):
            if code == 0:
                os.replace(archive[0], archive[1])
            else:
                os.remove(archive[0])
        # the archive is written after the result: a run that failed while
        # writing it still measured
        if not os.path.exists(raw_path) or (code != 0 and not archive):
            sys.stderr.write("[perfbench] JVM %s; log tail:\n" % (
                "timed out" if code is None else "exited %d" % code))
            with open(log_path) as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            return 1
        with open(raw_path) as f:
            raw = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    v = raw["values"]
    attempted = int(v.get("attempted", 0))
    failed = int(v.get("failed", 0))
    problems = list(raw["failed_checks"])
    try:
        figures = metrics.per_layer(raw) if a.trace else metrics.end_to_end(raw)
    except metrics.stats.TooFewSamples as e:
        problems.append(str(e))
        figures = {}
    if raw["checks"] == 0:
        problems.append("no correctness check ran")
    correct = not problems and failed == 0 and attempted > 0
    units = ({m["name"]: m["unit"] for m in metrics.END_TO_END} if not a.trace
             else {n: u for n, u, *_ in metrics.PER_LAYER})
    result = {"correct": correct, "attempted": max(attempted, 1), "failed": failed,
              "metrics": {k: {"value": figures[k], "unit": units[k]}
                          for k in units if k in figures}}
    cpu_end = cpu_times()
    health = dict(raw["health"], nproc=raw["cores"], load_start=load_start,
                  load_end=loadavg(), phase_steal_share=raw["phase"]["steal_share"],
                  steal_share=(cpu_end[1] - cpu_start[1]) / max(1, cpu_end[0] - cpu_start[0]),
                  gen_late_ms_max=max(raw["samples"].get("gen.late_ms", [0.0])),
                  class_archive="written" if archive else "used")
    with open(os.path.join(results, tag + ".json"), "w") as f:
        json.dump({"result": result, "health": health, "problems": problems,
                   "raw": raw}, f)
    for p in problems:
        sys.stderr.write("[perfbench] FAILED: %s\n" % p)
    print("health " + json.dumps(health))
    print(json.dumps(result))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
