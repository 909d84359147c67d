#!/usr/bin/env python3
"""Count the child processes the JVMs of a command start.

Runs COMMAND with a JDK Flight Recording in every JVM it starts
(JAVA_TOOL_OPTIONS=-XX:StartFlightRecording=...), then prints the number of
jdk.ProcessStart events, grouped by the forked program, by the top-level
store directory it acted on (`tables/<name>`, `queues/<name>` or
`checkpoints/<name>` in its path arguments) and by the first frame above
the JDK's process and Hadoop's shell classes. The last stdout line is the
same counts as JSON. The exit code is the command's.

    python3 tools/fork_profile.py -- python3 perfbench/run.py \\
        --workload nca_refresh --seed 3 --seconds 6 --trace 0
"""
import argparse
import collections
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile

STORE_DIR = re.compile(r"/((?:tables|queues|checkpoints)/[^/]+)")
# frames that start a process for someone else: the caller is above them
PLUMBING = ("java.", "jdk.", "sun.", "org.apache.hadoop.util.Shell")


def events(jfr_file):
    out = subprocess.run(["jfr", "print", "--json", "--stack-depth", "64", "--events", "jdk.ProcessStart", jfr_file],
                         check=True, capture_output=True, text=True).stdout
    return json.loads(out)["recording"]["events"]


def origin(event):
    frames = ((event["values"].get("stackTrace") or {}).get("frames")) or []
    for f in frames:
        m = f["method"]
        name = m["type"]["name"].replace("/", ".") + "." + m["name"]
        if not name.startswith(PLUMBING):
            return name
    return "(no frame outside the JDK)"


def profile(recordings):
    by = {k: collections.Counter() for k in ("command", "store_dir", "origin")}
    total = 0
    for r in recordings:
        for e in events(r):
            total += 1
            args = e["values"]["command"].split()
            by["command"][os.path.basename(args[0]) if args else "(empty)"] += 1
            dirs = [m.group(1) for a in args for m in [STORE_DIR.search(a)] if m]
            by["store_dir"][dirs[0] if dirs else "(other)"] += 1
            by["origin"][origin(e)] += 1
    return total, by


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--keep", help="directory to keep the .jfr recordings in")
    ap.add_argument("command", nargs=argparse.REMAINDER)
    a = ap.parse_args()
    cmd = a.command[1:] if a.command[:1] == ["--"] else a.command
    if not cmd:
        ap.error("no command given")
    rec_dir = a.keep or tempfile.mkdtemp(prefix="fork_profile-")
    os.makedirs(rec_dir, exist_ok=True)
    env = dict(os.environ)
    flag = "-XX:StartFlightRecording=filename=%s/,dumponexit=true" % os.path.abspath(rec_dir)
    env["JAVA_TOOL_OPTIONS"] = (env.get("JAVA_TOOL_OPTIONS", "") + " " + flag).strip()
    try:
        code = subprocess.run(cmd, env=env).returncode
        recordings = sorted(os.path.join(rec_dir, f) for f in os.listdir(rec_dir) if f.endswith(".jfr"))
        total, by = profile(recordings)
    finally:
        if not a.keep:
            shutil.rmtree(rec_dir, ignore_errors=True)
    print("[fork_profile] %d process starts in %d JVM recordings" % (total, len(recordings)))
    for k, c in by.items():
        print("by %s:" % k.replace("_", " "))
        for name, n in c.most_common():
            print("  %6d  %s" % (n, name))
    print(json.dumps({"process_starts": total, "recordings": len(recordings),
                      **{k: dict(c.most_common()) for k, c in by.items()}}))
    sys.exit(code)


if __name__ == "__main__":
    main()
