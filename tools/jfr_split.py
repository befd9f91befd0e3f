#!/usr/bin/env python3
"""Where a JFR recording's CPU samples and allocation go, by frame pattern.

Reads a .jfr file through `jfr print --json`, one event at a time (the
JSON of a one-minute recording runs to gigabytes, so it is never held
whole), and prints:

  - execution samples (jdk.ExecutionSample): the count, and for each
    pattern the share of samples whose stack holds a matching frame, split
    into executor threads (Spark's "Executor task launch worker" threads)
    and every other thread (the driver);
  - allocation (jdk.ObjectAllocationSample): the total sampled weight in
    GB and each pattern's share of it, with the same split;
  - JIT: the compile count and the total compile time from the last
    jdk.CompilerStatistics event.

A pattern is a regular expression over "package.Class.method" frame
names (PATTERNS below); a stack is read to its top STACK_DEPTH frames.

Recording one without touching perfbench/: build the checkout first (one
ordinary run), then run again with the recorder in JAVA_TOOL_OPTIONS. With
the build done, the harness JVM is the only JVM that run starts, so sbt is
not recorded:

    python3 perfbench/run.py --workload elt_rebuild --seed 1 --seconds 10 --trace 0
    JAVA_TOOL_OPTIONS="-XX:StartFlightRecording=filename=/tmp/elt.jfr,settings=profile" \\
        python3 perfbench/run.py --workload elt_rebuild --seed 904 --seconds 10 --trace 0
    python3 tools/jfr_split.py /tmp/elt.jfr

The file name must lie outside .bench_work/, which each run deletes.
"""
import argparse
import json
import re
import subprocess
import sys

PATTERNS = [
    ("GetJsonObject", r"\.GetJsonObject"),
    ("PayloadKernel", r"^graft\.normalize\.(PayloadKernel|JsonFields|JsonCoalesce)"),
    ("jackson", r"^com\.fasterxml\.jackson\.core\."),
    ("janino", r"^org\.codehaus\.(janino|commons\.compiler)\."),
]
EVENTS = ("jdk.ExecutionSample", "jdk.ObjectAllocationSample", "jdk.CompilerStatistics")
EXECUTOR_THREAD = "Executor task launch worker"
CHUNK = 1 << 20
STACK_DEPTH = 32


def events(path):
    """Yields each event dict of `jfr print --json`, decoding the events
    array incrementally from the tool's output."""
    cmd = ["jfr", "print", "--json", "--stack-depth", str(STACK_DEPTH),
           "--events", ",".join(EVENTS), path]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    dec = json.JSONDecoder()
    buf, pos, eof = "", -1, False

    def more():
        nonlocal buf, eof
        data = proc.stdout.read(CHUNK)
        eof = not data
        buf += data

    while pos < 0:
        if eof:
            raise SystemExit(f"jfr_split: no events array in the output of {' '.join(cmd)}")
        more()
        i = buf.find('"events": [')
        if i >= 0:
            pos = i + len('"events": [')
    while True:
        while pos < len(buf) and buf[pos] in " \t\r\n,":
            pos += 1
        if pos < len(buf) and buf[pos] == "]":
            break
        try:
            ev, end = dec.raw_decode(buf, pos)
        except json.JSONDecodeError:
            if eof:
                raise SystemExit("jfr_split: truncated jfr output")
            buf, pos = buf[pos:], 0
            more()
            continue
        yield ev
        pos = end
    proc.stdout.close()
    if proc.wait() != 0:
        raise SystemExit(f"jfr_split: {' '.join(cmd)} exited {proc.returncode}")


def frame_names(ev):
    st = ev["values"].get("stackTrace") or {}
    for f in st.get("frames") or []:
        m = f.get("method") or {}
        cls = ((m.get("type") or {}).get("name") or "").replace("/", ".")
        yield f"{cls}.{m.get('name', '')}"


def thread_side(ev, key):
    t = ev["values"].get(key) or {}
    return "executor" if (t.get("javaName") or "").startswith(EXECUTOR_THREAD) else "driver"


def seconds(v):
    """A JFR duration: a number of milliseconds, or an ISO-8601 string
    such as "PT1M2.5S"."""
    if isinstance(v, (int, float)):
        return v / 1000.0
    m = re.fullmatch(r"PT(?:(\d+)H)?(?:(\d+)M)?(?:([\d.]+)S)?", str(v))
    if not m:
        return float("nan")
    h, mi, s = (float(g) if g else 0.0 for g in m.groups())
    return h * 3600 + mi * 60 + s


def split(path):
    rx = [(n, re.compile(p)) for n, p in PATTERNS]
    sides = ("executor", "driver")
    cpu = {s: {"n": 0, **{n: 0 for n, _ in rx}} for s in sides}
    alloc = {s: {"n": 0.0, **{n: 0.0 for n, _ in rx}} for s in sides}
    jit = None
    for ev in events(path):
        kind = ev["type"]
        if kind == "jdk.CompilerStatistics":
            jit = ev["values"]
            continue
        if kind == "jdk.ExecutionSample":
            acc, side, w = cpu, thread_side(ev, "sampledThread"), 1
        else:
            acc, side, w = alloc, thread_side(ev, "eventThread"), ev["values"].get("weight", 0)
        names = list(frame_names(ev))
        acc[side]["n"] += w
        for n, r in rx:
            if any(r.search(f) for f in names):
                acc[side][n] += w
    return cpu, alloc, jit


def share(part, whole):
    return f"{100.0 * part / whole:5.1f} %" if whole else "    - "


def report(cpu, alloc, jit):
    names = [n for n, _ in PATTERNS]
    for title, acc, unit, scale, fmt in (("execution samples", cpu, "samples", 1, ".0f"),
                                         ("allocation weight", alloc, "GB", 1e-9, ".1f")):
        total = acc["executor"]["n"] + acc["driver"]["n"]
        print(f"{title}: {total * scale:{fmt}} {unit} (executor "
              f"{acc['executor']['n'] * scale:{fmt}}, driver {acc['driver']['n'] * scale:{fmt}})")
        print(f"  {'pattern':<16}{'all':>9}{'executor':>11}{'driver':>9}")
        for n in names:
            both = acc["executor"][n] + acc["driver"][n]
            print(f"  {n:<16}{share(both, total):>9}"
                  f"{share(acc['executor'][n], acc['executor']['n']):>11}"
                  f"{share(acc['driver'][n], acc['driver']['n']):>9}")
    if jit is None:
        print("jit: no jdk.CompilerStatistics event in the recording")
    else:
        print(f"jit: {jit.get('compileCount')} compiles, "
              f"{seconds(jit.get('totalTimeSpent')):.1f} s total compile time")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("jfr", help="the .jfr recording")
    args = ap.parse_args()
    report(*split(args.jfr))


if __name__ == "__main__":
    sys.exit(main())
