#!/usr/bin/env python3
"""Run one benchmark workload of the engine and print its result.

Usage, from the repository root:
  python3 perfbench/run.py --workload elt_rebuild --seed 1 --seconds 10 --trace 0

The first run in a checkout compiles the engine and the harness with sbt
(offline) and caches the classpath under .bench_build/; later runs start
the harness JVM directly, so sbt is in no measurement. Every file a run
writes lives under .bench_work/ and is deleted when it ends. The last line
of standard output is the JSON result: correct, attempted, failed and the
metrics (end-to-end with --trace 0, per-layer with --trace 1). End-to-end
times are the JVM's CPU seconds scaled to a reference speed of the host
(Probe, below).
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import checks  # noqa: E402
import gen_tables  # noqa: E402

# Per-layer metrics each workload's traced run must report, by name
# prefix. Every other per-layer metric belongs to a layer the workload
# never calls and reads 0.
OWN_LAYERS = {
    "elt_rebuild": ("pipeline.", "operators.", "sources.warehouse", "sources.sinks"),
    "daily_refresh": ("streaming.", "sources.store_mb", "sources.written_mb_per_batch",
                      "sources.shuffle_mb_per_batch"),
    "query_mix": ("queries.", "scratch."),
}
# End-to-end times are CPU seconds scaled to the speed at which the
# probe reads PROBE_REF_S: cpu * (PROBE_REF_S / probe) ** PROBE_EXP. The
# JVM's CPU time moved as the 0.71-0.84th power of the probe's over
# 60 runs across a 2.7x range of host speed (see README.md, "Why CPU
# seconds at a reference speed").
PROBE_REF_S = 0.1
PROBE_EXP = 0.8
PROBE_EVERY_S = 1.0
CORES = 4          # local[k], capped at the CPUs this process may use
HEAP = "3g"
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest(root):
    """Digest of every file the build reads, so edits trigger a rebuild."""
    h = hashlib.sha256()
    tops = ["build.sbt", "project/build.properties", "src/main",
            "perfbench/harness/build.sbt", "perfbench/harness/project/build.properties",
            "perfbench/harness/src"]
    for top in tops:
        path = os.path.join(root, top)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root):
    """Compile once per source state; returns the harness classpath."""
    out = os.path.join(root, ".bench_build")
    stamp, cp_file = os.path.join(out, "stamp"), os.path.join(out, "classpath.txt")
    digest = source_digest(root)
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return open(cp_file).read().strip()
    os.makedirs(out, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = " ".join([
        env.get("SBT_OPTS", ""), "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]).strip()
    log = os.path.join(out, "build.log")
    with open(log, "w") as fh:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "harness/compile",
             "export harness/Runtime/fullClasspath"],
            cwd=os.path.join(root, "perfbench", "harness"), env=env, stdout=subprocess.PIPE,
            stderr=fh, stdin=subprocess.DEVNULL, text=True, timeout=BUILD_TIMEOUT_S)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        fail(f"build failed (exit {proc.returncode}), see {log}")
    classpath = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(classpath)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return classpath


def _probe_once():
    rng = random.Random(42)
    xs = [rng.random() for _ in range(100_000)]
    xs.sort()
    counts = {}
    for x in xs:
        k = int(x * 65536) & 4095
        counts[k] = counts.get(k, 0) + 1
    return len(",".join(str(int(x * 1e6)) for x in xs[::4])) + len(counts)


class Probe:
    """Samples the host's speed while the harness JVM runs: every
    PROBE_EVERY_S, the CPU seconds of a fixed computation (list building,
    sorting, dict counting, string joining) in this thread. The
    computation never calls the engine."""

    def __init__(self):
        self.samples = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        while not self._stop.wait(PROBE_EVERY_S):
            t0 = time.thread_time()
            _probe_once()
            self.samples.append(time.thread_time() - t0)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def run_jvm(classpath, work, args, cores, tables, prep):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:+UnlockDiagnosticVMOptions",
           "-XX:GCLockerRetryAllocationCount=100", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--root", work, "--cores", str(cores), "--tables", tables,
            "--prep-seconds", repr(prep[0]), "--prep-cpu-seconds", repr(prep[1])]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, cwd=work)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    result = os.path.join(work, "result.json")
    if code != 0 or not os.path.exists(result):
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-60:]))
        fail(f"harness JVM failed (exit {code})")
    with open(result) as fh:
        return json.load(fh)


def prepare_tables(work, seed):
    """Generate the query_mix tables; returns the wall and CPU seconds it
    took and the table directory."""
    d = os.path.join(work, "tables")
    t0, c0 = time.perf_counter(), time.process_time()
    gen_tables.generate(d, seed)
    return (time.perf_counter() - t0, time.process_time() - c0), d


def main():
    # a TERM (e.g. a timeout) still kills the JVM and deletes the work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.workload not in OWN_LAYERS:
        fail(f"unknown workload {args.workload!r}; one of {', '.join(OWN_LAYERS)}")
    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala"))):
        fail("run from the repository root: the engine's build.sbt and src/main/scala are missing")

    classpath = build(root)
    work = os.path.join(root, ".bench_work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        cores = min(CORES, len(os.sched_getaffinity(0)))
        prep, tables = (0.0, 0.0), ""
        if args.workload == "query_mix":
            prep, tables = prepare_tables(work, args.seed)
        # the JVM's CPU seconds are scaled by the host's mean speed over
        # its lifetime
        with Probe() as pr:
            res = run_jvm(classpath, work, args, cores, tables, prep)
        if not pr.samples:
            fail("the harness JVM ended before the speed probe ran")
        probe_s = sum(pr.samples) / len(pr.samples)
        speed = (PROBE_REF_S / probe_s) ** PROBE_EXP
        problems = checks.check(args.workload, res["check"])
        for p in problems:
            print(f"check failed: {p}", file=sys.stderr)
        metrics = select_metrics(root, args.workload, res, args.trace, speed)
        print(json.dumps({"detail": dict(res["detail"], probe_mean_s=probe_s,
                                         probes=len(pr.samples),
                                         raw_end_to_end=res["end_to_end"])}))
        print(json.dumps({"correct": not problems, "attempted": res["attempted"],
                          "failed": res["failed"], "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.join(root, ".bench_work"))
        except OSError:
            pass


def select_metrics(root, workload, res, trace, speed):
    """The metrics BENCHMARK.json lists for this mode, with their units;
    end-to-end times (unit s) multiplied by `speed`. A missing metric of
    a layer the workload calls is an error."""
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)["per_layer" if trace else "end_to_end"]
    values = res["per_layer" if trace else "end_to_end"]
    out = {}
    for m in spec:
        name = m["name"]
        if name not in values and (not trace or name.startswith(OWN_LAYERS[workload])):
            fail(f"harness did not report {name}")
        value = values.get(name, 0.0)
        if not trace and m["unit"] == "s":
            value *= speed
        out[name] = {"value": value, "unit": m["unit"]}
    return out


if __name__ == "__main__":
    main()
