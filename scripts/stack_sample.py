#!/usr/bin/env python3
"""Where a JVM spends its time, and which processes it forks.

Two modes:

  stacks  Sample `jstack` of a running JVM and count, per thread family, the
          innermost frame outside the JDK and the Scala library. A thread
          family is the thread name with numbers and `[...]` ids masked
          ("Executor task launch worker for task #.# in stage #.# (TID #)").
          With `-- cmd ...` the tool runs the command and samples the first
          `java` process whose command line contains --match; otherwise give
          --pid or --match for a JVM that is already running.

              stack_sample.py stacks --match perfbench.Harness \\
                  -- python3 perfbench/run.py --workload migrate-stream \\
                     --seed 700 --seconds 8 --trace 0

  forks   Run a command with logging `chmod`, `readlink`, `ls` and `stat`
          shims first on PATH, and count the calls per tool and per calling
          program, with the time of the first and last call.

              stack_sample.py forks -- python3 perfbench/run.py \\
                  --workload migrate-stream --seed 700 --seconds 8 --trace 0

jstack is a JVM of its own, so samples come every --interval seconds at best
(about 0.3 s each on 4 cores). Counts are thread samples, not CPU time: a
thread that waits is counted where it waits.
"""
import argparse
import collections
import os
import re
import shutil
import subprocess
import sys
import tempfile
import time

LIBRARY_PREFIXES = ("java.", "javax.", "jdk.", "sun.", "com.sun.", "scala.")
FRAME = re.compile(r"^\s+at ([\w$.<>/]+)\.([\w$<>]+)\(")
HEADER = re.compile(r'^"(.*?)"')
STATE = re.compile(r"java\.lang\.Thread\.State: (\w+)")


def family(name):
    name = re.sub(r"\[[^\]]*\]", "[…]", name)
    return re.sub(r"\d+", "#", name)


def parse_dump(text):
    """Yield (thread name, state, [class.method, ...]) per thread, innermost first."""
    name, state, frames = None, "", []
    for line in text.splitlines():
        h = HEADER.match(line)
        if h:
            if name is not None:
                yield name, state, frames
            name, state, frames = h.group(1), "", []
            continue
        s = STATE.search(line)
        if s:
            state = s.group(1)
            continue
        f = FRAME.match(line)
        if f and name is not None:
            frames.append(f"{f.group(1).split('/')[-1]}.{f.group(2)}")
    if name is not None:
        yield name, state, frames


def java_pids(match):
    """`java` processes whose command line contains `match` (never the
    shell or python that merely mentions it)."""
    out = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                argv = f.read().split(b"\0")
        except OSError:
            continue
        if argv and os.path.basename(argv[0].decode(errors="replace")) == "java" \
                and match.encode() in b" ".join(argv):
            out.append(int(pid))
    return sorted(out)


def stacks(args, cmd):
    proc = subprocess.Popen(cmd) if cmd else None
    pid = args.pid
    deadline = time.time() + args.wait
    while pid is None:
        pids = java_pids(args.match) if args.match else []
        if pids:
            pid = pids[0]
        elif (proc and proc.poll() is not None) or time.time() > deadline:
            sys.exit(f"no java process matching {args.match!r}")
        else:
            time.sleep(0.2)
    threads = re.compile(args.threads)
    grep = re.compile(args.grep) if args.grep else None
    counts = collections.Counter()       # (family, state, frame) -> samples
    per_family = collections.Counter()   # family -> thread samples
    hits = collections.Counter()         # family -> samples matching --grep
    dumps = 0
    end = time.time() + args.seconds if args.seconds else None
    while end is None or time.time() < end:
        t0 = time.time()
        r = subprocess.run(["jstack", str(pid)], capture_output=True, text=True)
        if r.returncode != 0:
            break  # the JVM exited
        dumps += 1
        for name, state, frames in parse_dump(r.stdout):
            fam = family(name)
            if not threads.search(fam):
                continue
            # a stack of library frames only is a parked pool thread
            inner = next((f for f in frames if not f.startswith(LIBRARY_PREFIXES)),
                         "(idle) " + (frames[0] if frames else ""))
            counts[(fam, state, inner)] += 1
            per_family[fam] += 1
            if grep and any(grep.search(f) for f in frames):
                hits[fam] += 1
        time.sleep(max(0.0, args.interval - (time.time() - t0)))
    if proc:
        proc.wait()
    print(f"pid {pid}: {dumps} dumps")
    print(f"{'samples':>8} {'share':>6}  {'state':<13} family / innermost non-library frame")
    for (fam, state, frame), n in counts.most_common(args.top):
        print(f"{n:>8} {n / per_family[fam]:>6.1%}  {state:<13} {fam}\n"
              f"{'':>30}{frame}")
    if grep:
        for fam in sorted(per_family):
            print(f"--grep {args.grep!r}: {hits[fam]} of {per_family[fam]} samples of {fam}")
    return proc.returncode if proc else 0


SHIM = """#!/bin/bash
read -r caller < /proc/$PPID/comm
printf '%s\\t%s\\t%s\\t%s\\n' "$EPOCHREALTIME" "{tool}" "$caller" "$*" >> "{log}"
exec "{real}" "$@"
"""


def forks(args, cmd):
    if not cmd:
        sys.exit("forks needs a command after --")
    tools = ["chmod", "readlink", "ls", "stat"]
    real = {t: shutil.which(t) for t in tools}
    with tempfile.TemporaryDirectory(prefix="fork_shims") as shims:
        log = os.path.join(shims, "calls.log")
        open(log, "w").close()
        for t in tools:
            if real[t] is None:
                continue
            path = os.path.join(shims, t)
            with open(path, "w") as f:
                f.write(SHIM.format(tool=t, log=log, real=real[t]))
            os.chmod(path, 0o755)
        env = dict(os.environ, PATH=shims + os.pathsep + os.environ.get("PATH", ""))
        t0 = time.time()
        code = subprocess.call(cmd, env=env)
        wall = time.time() - t0
        with open(log) as f:
            calls = [line.rstrip("\n").split("\t", 3) for line in f if line.strip()]
    by = collections.defaultdict(list)
    for ts, tool, caller, argv in calls:
        by[(tool, caller)].append((float(ts) - t0, argv))
    print(f"command exited {code} after {wall:.1f} s")
    print(f"{'calls':>7}  {'tool':<9} {'caller':<16} {'first s':>8} {'last s':>8}  last args")
    for t in tools:
        rows = sorted(((k, v) for k, v in by.items() if k[0] == t), key=lambda kv: -len(kv[1]))
        if not rows:
            print(f"{0:>7}  {t:<9}")
        for (tool, caller), v in rows:
            v.sort()
            print(f"{len(v):>7}  {tool:<9} {caller:<16} {v[0][0]:>8.1f} {v[-1][0]:>8.1f}"
                  f"  {v[-1][1][:60]}")
    return code


def main():
    argv = sys.argv[1:]
    cmd = []
    if "--" in argv:
        i = argv.index("--")
        argv, cmd = argv[:i], argv[i + 1:]
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = p.add_subparsers(dest="mode", required=True)
    s = sub.add_parser("stacks", help="aggregate jstack samples of a JVM")
    s.add_argument("--pid", type=int, help="the JVM to sample")
    s.add_argument("--match", help="sample the first java process whose command line has this")
    s.add_argument("--interval", type=float, default=0.1, help="seconds between dumps (min)")
    s.add_argument("--seconds", type=float, default=0,
                   help="stop after this long (default: when the JVM exits)")
    s.add_argument("--wait", type=float, default=120, help="seconds to wait for --match")
    s.add_argument("--threads", default="stream execution thread|Executor task launch",
                   help="regex on thread families to keep")
    s.add_argument("--grep", help="also count samples whose stack has a frame matching this")
    s.add_argument("--top", type=int, default=25)
    sub.add_parser("forks", help="count chmod/readlink/ls/stat processes of a command")
    args = p.parse_args(argv)
    if args.mode == "stacks" and args.pid is None and not args.match:
        p.error("stacks needs --pid or --match")
    sys.exit(stacks(args, cmd) if args.mode == "stacks" else forks(args, cmd))


if __name__ == "__main__":
    main()
