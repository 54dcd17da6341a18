#!/usr/bin/env python3
"""Executor-thread frame shares of a JFR CPU profile.

Usage:

    python3 tools/jfr_shares.py /tmp/x.jfr                       # runs `jfr print --json`
    jfr print --json --stack-depth 256 --events jdk.ExecutionSample /tmp/x.jfr \\
        | python3 tools/jfr_shares.py -                           # or reads its output
    python3 tools/jfr_shares.py /tmp/x.jfr --top 30 --json
    python3 tools/jfr_shares.py /tmp/x.jfr --frame 'OcrRun\\$\\.ocr' --frame 'Corpus\\$\\.page'
    python3 tools/jfr_shares.py /tmp/x.jfr --callers 'String\\.<init>' --callers 'Matcher\\.reset'

Keeps the jdk.ExecutionSample events whose sampled thread's Java name starts
with "Executor task launch worker" (Spark's task threads) and prints, per
frame `package.Class.method`:

- self share: samples whose top frame it is, over all kept samples;
- inclusive share: samples with the frame anywhere on the stack (counted
  once per sample, so recursion does not inflate it), over all kept samples.
  The inclusive ranking lists only frames under `--within` (default
  `graft.`): every sample's stack holds Spark's task and thread frames.

`--frame REGEX` (repeatable) adds one row per pattern: the self and
inclusive share of the samples with a matching frame, top or anywhere.

`--callers REGEX` (repeatable) splits a matching frame's shares by its
immediate caller, so a self share such as `java.lang.String.<init>` says who
pays for it. Per sample, the topmost run of consecutive matching frames
counts once: its bottom frame is "the frame" and the first non-matching
frame below it "the caller" (so a constructor delegating to itself is not
its own caller); self counts the samples where the run starts at the top.

The events are decoded one at a time, so a long recording's JSON is never
held in memory whole.
"""

import argparse
import collections
import json
import re
import subprocess
import sys

THREAD_PREFIX = "Executor task launch worker"
STACK_DEPTH = 256
CHUNK = 1 << 22


def events(stream):
    """Yields the objects of the recording's "events" array one by one."""
    dec = json.JSONDecoder()
    buf = ""
    pos = -1
    eof = False
    while pos < 0:
        more = stream.read(CHUNK)
        if not more:
            return
        buf += more
        at = buf.find('"events"')
        if at >= 0:
            pos = buf.find("[", at)
            if pos >= 0:
                pos += 1
    while True:
        while True:
            while pos < len(buf) and buf[pos] in " \t\r\n,":
                pos += 1
            if pos < len(buf) or eof:
                break
            more = stream.read(CHUNK)
            eof = not more
            buf = buf[pos:] + more
            pos = 0
        if pos >= len(buf) or buf[pos] == "]":
            return
        try:
            obj, end = dec.raw_decode(buf, pos)
        except json.JSONDecodeError:
            if eof:
                raise
            more = stream.read(CHUNK)
            eof = not more
            buf = buf[pos:] + more
            pos = 0
            continue
        yield obj
        pos = end


def frame_name(frame):
    method = frame.get("method") or {}
    owner = ((method.get("type") or {}).get("name") or "?").replace("/", ".")
    return f"{owner}.{method.get('name', '?')}"


def caller_run(frames, p):
    """(frame, caller, is top) of the topmost run of frames matching p, or None."""
    at = next((i for i, f in enumerate(frames) if p.search(f)), None)
    if at is None:
        return None
    end = at
    while end + 1 < len(frames) and p.search(frames[end + 1]):
        end += 1
    caller = frames[end + 1] if end + 1 < len(frames) else "(stack root)"
    return frames[end], caller, at == 0


def shares(stream, patterns, caller_patterns=()):
    """(kept samples, self counts, inclusive counts, per-pattern counts,
    per-caller-pattern {(frame, caller): [self, inclusive]})."""
    n = 0
    top = collections.Counter()
    anywhere = collections.Counter()
    matched = {p.pattern: [0, 0] for p in patterns}
    by_caller = {p.pattern: collections.defaultdict(lambda: [0, 0]) for p in caller_patterns}
    for ev in events(stream):
        if ev.get("type") != "jdk.ExecutionSample":
            continue
        values = ev.get("values") or {}
        thread = (values.get("sampledThread") or {}).get("javaName") or ""
        if not thread.startswith(THREAD_PREFIX):
            continue
        frames = [frame_name(f) for f in ((values.get("stackTrace") or {}).get("frames") or [])]
        if not frames:
            continue
        n += 1
        top[frames[0]] += 1
        anywhere.update(set(frames))
        for p in patterns:
            if p.search(frames[0]):
                matched[p.pattern][0] += 1
            if any(p.search(f) for f in frames):
                matched[p.pattern][1] += 1
        for p in caller_patterns:
            run = caller_run(frames, p)
            if run is not None:
                counts = by_caller[p.pattern][run[:2]]
                counts[0] += run[2]
                counts[1] += 1
    return n, top, anywhere, matched, by_caller


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("input", help="a .jfr recording, a `jfr print --json` file, or - for stdin")
    ap.add_argument("--top", type=int, default=25, help="frames listed per ranking")
    ap.add_argument("--frame", action="append", default=[], metavar="REGEX",
                    help="report the share of samples with a frame matching REGEX")
    ap.add_argument("--callers", action="append", default=[], metavar="REGEX",
                    help="split the shares of frames matching REGEX by immediate caller")
    ap.add_argument("--within", default="graft.",
                    help="frame-name prefix of the inclusive ranking ('' for all)")
    ap.add_argument("--json", action="store_true", help="print one JSON object")
    args = ap.parse_args()
    patterns = [re.compile(p) for p in args.frame]
    caller_patterns = [re.compile(p) for p in args.callers]

    proc = None
    if args.input == "-":
        stream = sys.stdin
    elif args.input.endswith(".jfr"):
        proc = subprocess.Popen(
            ["jfr", "print", "--json", "--stack-depth", str(STACK_DEPTH),
             "--events", "jdk.ExecutionSample", args.input],
            stdout=subprocess.PIPE, text=True)
        stream = proc.stdout
    else:
        stream = open(args.input)
    try:
        n, top, anywhere, matched, by_caller = shares(stream, patterns, caller_patterns)
    finally:
        if proc is not None:
            proc.stdout.close()
            if proc.wait() != 0:
                sys.exit(f"jfr print exited with {proc.returncode}")
        elif stream is not sys.stdin:
            stream.close()
    if n == 0:
        sys.exit(f"no jdk.ExecutionSample event on a '{THREAD_PREFIX}*' thread")

    def share(c):
        return round(c / n, 4)

    out = {
        "samples": n,
        "threads": THREAD_PREFIX + "*",
        "self": [[f, share(c)] for f, c in top.most_common(args.top)],
        "inclusive": [[f, share(c)] for f, c in anywhere.most_common()
                      if f.startswith(args.within)][:args.top],
        "frames": {p: {"self": share(s), "inclusive": share(i)}
                   for p, (s, i) in matched.items()},
        "callers": {p: [[f, c, share(s), share(i)] for (f, c), (s, i)
                        in sorted(rows.items(), key=lambda kv: (-kv[1][1], kv[0]))]
                    for p, rows in by_caller.items()},
    }
    if args.json:
        print(json.dumps(out))
        return
    print(f"{n} executor-thread samples")
    for kind in ("self", "inclusive"):
        print(f"\n{kind} share")
        for f, s in out[kind]:
            print(f"  {100 * s:6.2f}%  {f}")
    if out["frames"]:
        print("\nmatched frames (self / inclusive)")
        for p, s in out["frames"].items():
            print(f"  {100 * s['self']:6.2f}% / {100 * s['inclusive']:6.2f}%  {p}")
    for p, rows in out["callers"].items():
        print(f"\nby caller of '{p}' (self / inclusive)")
        for f, c, s, i in rows[:args.top]:
            print(f"  {100 * s:6.2f}% / {100 * i:6.2f}%  {f}  <-  {c}")


if __name__ == "__main__":
    main()
