#!/usr/bin/env python3
"""Where one thread's CPU samples go inside one graft call.

Reads a JFR recording's execution and native-method samples and prints,
for one thread, how many samples sit under a root frame (for example
`Catalog.commitOne`), grouped by the innermost named `graft.*` frame of
each such sample. `--below N` adds the first N frames under that graft
frame to the group, which shows which library call it spends its time
in.

    python3 tools/jfr_hot.py <recording.jfr>
        [--thread main] [--root Catalog.commitOne] [--below 0]

The recording is printed with the JDK's `jfr` tool (`jfr print --json
--stack-depth 256 --events jdk.ExecutionSample,jdk.NativeMethodSample`);
`jfr print` keeps only 5 frames of each stack unless `--stack-depth` says
otherwise. The 25 largest groups are printed. Frames are named
`Class.method` with Scala's synthetic suffixes removed (`$anonfun$f$1`
counts as `f`); a frame with no name left (a bare lambda `apply`) is
skipped. A sample whose stack was truncated before the root frame does
not count as under it: record with
`-XX:FlightRecorderOptions=stackdepth=256` when that share is large.
"""
import argparse
import collections
import json
import re
import subprocess
import sys

EVENTS = "jdk.ExecutionSample,jdk.NativeMethodSample"
UNNAMED = {"", "apply"}


def events(path):
    out = subprocess.run(["jfr", "print", "--json", "--stack-depth", "256",
                          "--events", EVENTS, path],
                         check=True, stdout=subprocess.PIPE, text=True).stdout
    return json.loads(out)["recording"]["events"]


def frame_name(frame):
    """(class, method) of a JFR frame, Scala's synthetic parts removed."""
    m = frame["method"]
    cls = m["type"]["name"].replace("/", ".").split("$")[0]
    meth = m["name"]
    meth = re.sub(r"^\$anonfun\$", "", meth)
    meth = re.sub(r"(\$(\d+|adapted|mc\w+\$sp))+$", "", meth)
    if meth.startswith("$") or "$anonfun" in meth:
        meth = ""
    return cls, meth


def label(cls, meth):
    return cls.rsplit(".", 1)[-1] + "." + meth


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("recording")
    ap.add_argument("--thread", default="main")
    ap.add_argument("--root", default="Catalog.commitOne",
                    help="Class.method (or package-qualified) of the root frame")
    ap.add_argument("--below", type=int, default=0,
                    help="frames under the graft frame to add to each group")
    a = ap.parse_args()

    def is_root(cls, meth):
        full = cls + "." + meth
        return full == a.root or full.endswith("." + a.root)

    on_thread, under = 0, collections.Counter()
    for e in events(a.recording):
        v = e["values"]
        thread = v.get("sampledThread") or {}
        if thread.get("javaName") != a.thread or not v.get("stackTrace"):
            continue
        on_thread += 1
        # innermost frame first
        frames = [frame_name(f) for f in v["stackTrace"]["frames"]]
        roots = [i for i, (c, m) in enumerate(frames) if is_root(c, m)]
        if not roots:
            continue
        inner = frames[:roots[-1] + 1]
        hit = next((i for i, (c, m) in enumerate(inner)
                    if c.startswith("graft.") and m not in UNNAMED), len(inner) - 1)
        below = [label(c, m) for c, m in reversed(inner[max(0, hit - a.below):hit])
                 if m not in UNNAMED]
        under[" > ".join([label(*inner[hit])] + below)] += 1

    total = sum(under.values())
    share = f" ({total / on_thread:.0%})" if on_thread else ""
    print(f"thread {a.thread}: {on_thread} samples, {total} under {a.root}{share}")
    if total:
        print(f"{'samples':>8} {'share':>6}  innermost graft frame")
        for name, n in under.most_common(25):
            print(f"{n:>8} {n / total:>6.1%}  {name}")


if __name__ == "__main__":
    sys.exit(main())
