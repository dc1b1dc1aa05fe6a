#!/usr/bin/env python3
"""Summarise the child processes a JVM forked, from a JFR recording.

Usage: jfr_forks.py FILE.jfr [FILE.jfr ...]

Record with `JAVA_TOOL_OPTIONS=-XX:StartFlightRecording:filename=F.jfr`
(the default settings record `jdk.ProcessStart` with its stack). For each
file, prints the forks per command (the basename of the first word of
the command line), then per command and the first stack frame outside
`Shell`, `ProcessBuilder` and `RawLocalFileSystem` (the code that asked
for the fork), then per command and thread, with a thread name's
trailing number and a stream thread's `[id = …]` folded to `*`. Reads
the events through `jfr print --json --stack-depth 40`.
"""
import collections
import json
import re
import subprocess
import sys

PLUMBING = ("Shell", "ProcessBuilder", "RawLocalFileSystem")


def events(path):
    out = subprocess.run(
        ["jfr", "print", "--json", "--stack-depth", "40",
         "--events", "jdk.ProcessStart", path],
        check=True, stdout=subprocess.PIPE, text=True).stdout
    return [e["values"] for e in json.loads(out)["recording"]["events"]]


def command(v):
    words = v["command"].split()
    return words[0].rsplit("/", 1)[-1] if words else "?"


def caller(v):
    """First frame whose outer class is not fork plumbing, as Class.method."""
    for f in (v.get("stackTrace") or {}).get("frames", []):
        cls = f["method"]["type"]["name"].rsplit("/", 1)[-1]
        if cls.split("$")[0] not in PLUMBING:
            return f"{cls}.{f['method']['name']}"
    return "?"


def thread(v):
    name = (v.get("eventThread") or {}).get("javaName") or "?"
    return re.sub(r"\d+$", "*", re.sub(r" \[id = .*\]$", " *", name))


def table(title, counter):
    print(f"  {title}")
    for key, n in counter.most_common():
        print(f"    {n:7d}  {'  '.join(key) if isinstance(key, tuple) else key}")


def main(paths):
    if not paths:
        sys.exit(__doc__)
    for path in paths:
        evs = events(path)
        print(f"{path}: {len(evs)} forks")
        table("by command", collections.Counter(command(v) for v in evs))
        table("by command, caller",
              collections.Counter((command(v), caller(v)) for v in evs))
        table("by command, thread",
              collections.Counter((command(v), thread(v)) for v in evs))


if __name__ == "__main__":
    main(sys.argv[1:])
