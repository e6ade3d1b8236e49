#!/usr/bin/env python3
"""Count the processes a JVM started, from a JFR recording.

Usage: jfr_forks.py RECORDING.jfr [--check CMD[,CMD...]]

Reads the recording's `jdk.ProcessStart` events (through the JDK's `jfr
print`) and prints them counted two ways:

  * by command: the first word of the started command line (`chmod`,
    `readlink`, ...);
  * by command and origin: the innermost stack frame that belongs to graft
    (`graft.*`) or to Spark's streaming checkpoint and state store code,
    printed as `Class.method`; `(other)` when the stack has neither.

With --check, exits 1 when the recording holds any start of one of the
named commands, whatever its origin (the origin table is for diagnosis
only: a stack cut short would hide a graft frame), so "a flush cycle
starts no readlink" is one command:

    python3 tools/jfr_forks.py ingest.jfr --check chmod,readlink

Record with a stack deep enough to reach the graft frames (JFR keeps 64
frames by default). For a perfbench run, build first, then start the run
with the recording options in JAVA_TOOL_OPTIONS:

    python3 perfbench/build.py >/dev/null
    JAVA_TOOL_OPTIONS="-XX:StartFlightRecording=filename=ingest.jfr \
-XX:FlightRecorderOptions=stackdepth=1024" \
        python3 perfbench/run.py --workload daemon_ingest --seed 1 --seconds 10 --trace 0
"""
import argparse
import collections
import os
import subprocess
import sys

STACK_DEPTH = 1024  # frames `jfr print` shows; matches the recording depth below

ORIGINS = (
    "graft.",
    "org.apache.spark.sql.execution.streaming.checkpointing.",
    "org.apache.spark.sql.execution.streaming.state.",
)


def events(path):
    """Yield (command, frames) per jdk.ProcessStart event, innermost frame
    first; each frame is `package.Class.method`."""
    env = {k: v for k, v in os.environ.items() if k != "JAVA_TOOL_OPTIONS"}
    cmd = ["jfr", "print", "--events", "jdk.ProcessStart", "--stack-depth", str(STACK_DEPTH), path]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, env=env)
    command, frames, in_stack = None, [], False
    for line in proc.stdout:
        line = line.strip()
        if line.startswith("jdk.ProcessStart {"):
            command, frames, in_stack = None, [], False
        elif line.startswith("command = "):
            command = line[len("command = "):].strip('"')
        elif line.startswith("stackTrace = ["):
            in_stack = True
        elif in_stack and line == "]":
            in_stack = False
        elif in_stack and line != "...":
            frames.append(line.split("(", 1)[0])
        elif line == "}" and command is not None:
            yield command, frames
            command = None
    if proc.wait() != 0:
        sys.exit(f"jfr_forks: jfr print failed on {path}")


def origin(frames):
    return next((f for f in frames if f.startswith(ORIGINS)), "(other)")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("recording")
    ap.add_argument("--check", default="",
                    help="comma-separated commands that must not be started at all")
    args = ap.parse_args()

    by_command = collections.Counter()
    by_origin = collections.Counter()
    for command, frames in events(args.recording):
        word = os.path.basename(command.split(" ", 1)[0])
        by_command[word] += 1
        by_origin[(word, origin(frames))] += 1

    print(f"{sum(by_command.values())} process starts")
    print("\nby command:")
    for word, n in by_command.most_common():
        print(f"  {n:7d}  {word}")
    print("\nby command and origin:")
    for (word, where), n in by_origin.most_common():
        print(f"  {n:7d}  {word:10s} {where}")

    checked = {c for c in args.check.split(",") if c}
    bad = sum(by_command[word] for word in checked)
    if checked:
        print(f"\ncheck {','.join(sorted(checked))}: {bad} starts")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
