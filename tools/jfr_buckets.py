#!/usr/bin/env python3
"""Bucket a JFR recording's execution samples by class prefix.

    python3 tools/jfr_buckets.py run.jfr --threads 'Executor task launch' \\
        --bucket fetch=graft.sources.v2.PageFetcher \\
        --bucket regex=java.util.regex \\
        --bucket render=graft.functions.KvRender \\
        --bucket parse=graft.functions.KvParse

Runs the JDK's `jfr print --events jdk.ExecutionSample` on the recording,
keeps the samples whose thread name matches `--threads` (a regex, searched),
and prints two markdown tables:

  - per bucket, its inclusive share (samples with any frame under one of its
    prefixes) and its exclusive share (each sample counted once, in the
    first bucket, in command-line order, that any of its frames matches;
    the rest under `other`);
  - the 15 top self frames (the sampled method itself) over the same
    samples.

A bucket may list several prefixes, comma-separated. A frame is matched as
`package.Class.method`, so a prefix can name a package, a class or a
method. Record with, for example,
`JAVA_TOOL_OPTIONS=-XX:StartFlightRecording=filename=run.jfr,settings=profile`.
"""
import argparse
import collections
import os
import re
import shutil
import subprocess
import sys

TOP_SELF_FRAMES = 15
STACK_DEPTH = 128  # frames jfr prints per sample; deeper frames are not matched


def jfr_binary(explicit):
    if explicit:
        return explicit
    home = os.environ.get("JAVA_HOME")
    if home and os.path.exists(os.path.join(home, "bin", "jfr")):
        return os.path.join(home, "bin", "jfr")
    found = shutil.which("jfr")
    if not found:
        raise SystemExit("no jfr binary: pass --jfr or set JAVA_HOME")
    return found


def samples(text):
    """Yields (thread name, [frames, leaf first]) per jdk.ExecutionSample."""
    thread, frames, in_stack = None, [], False
    for line in text.splitlines():
        s = line.strip()
        if s.startswith("jdk.ExecutionSample"):
            thread, frames, in_stack = None, [], False
        elif s.startswith("sampledThread = "):
            m = re.match(r'sampledThread = "(.*)"', s)
            thread = m.group(1) if m else s[len("sampledThread = "):]
        elif s.startswith("stackTrace = ["):
            in_stack = True
        elif in_stack and s == "]":
            in_stack = False
        elif in_stack and s and s != "...":
            frames.append(s.split("(", 1)[0])
        elif s == "}" and thread is not None:
            yield thread, frames
            thread = None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("recording", help="a .jfr file")
    ap.add_argument("--threads", default="", help="thread-name regex (default: all)")
    ap.add_argument("--bucket", action="append", default=[], metavar="NAME=PREFIX[,PREFIX]")
    ap.add_argument("--jfr", default="", help="path of the jfr tool")
    args = ap.parse_args()

    buckets = []
    for b in args.bucket:
        name, sep, prefixes = b.partition("=")
        if not sep or not prefixes:
            raise SystemExit(f"bucket {b!r} is not NAME=PREFIX[,PREFIX]")
        buckets.append((name, tuple(p for p in prefixes.split(",") if p)))

    proc = subprocess.run(
        [jfr_binary(args.jfr), "print", "--events", "jdk.ExecutionSample",
         "--stack-depth", str(STACK_DEPTH), args.recording],
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr)
        raise SystemExit(proc.returncode)

    wanted = re.compile(args.threads)
    inclusive = collections.Counter()
    exclusive = collections.Counter()
    self_frames = collections.Counter()
    total = 0
    for thread, frames in samples(proc.stdout):
        if not wanted.search(thread) or not frames:
            continue
        total += 1
        self_frames[frames[0]] += 1
        hit = [any(f.startswith(prefixes) for f in frames) for _, prefixes in buckets]
        for (name, _), h in zip(buckets, hit):
            if h:
                inclusive[name] += 1
        first = next((name for (name, _), h in zip(buckets, hit) if h), "other")
        exclusive[first] += 1

    if total == 0:
        raise SystemExit("no execution samples on matching threads")
    pct = lambda n: f"{100.0 * n / total:.1f}%"
    print(f"{total} samples on threads matching {args.threads!r}\n")
    print("| bucket | inclusive | exclusive |")
    print("|---|---|---|")
    for name, _ in buckets:
        print(f"| {name} | {pct(inclusive[name])} | {pct(exclusive[name])} |")
    print(f"| other | | {pct(exclusive['other'])} |")
    print("\n| self frame | samples | share |")
    print("|---|---|---|")
    for frame, n in self_frames.most_common(TOP_SELF_FRAMES):
        print(f"| `{frame}` | {n} | {pct(n)} |")


if __name__ == "__main__":
    main()
