#!/usr/bin/env python3
"""Executor-thread frame shares of a JFR CPU profile.

Usage:

    python3 tools/jfr_shares.py /tmp/x.jfr                       # runs `jfr print --json`
    jfr print --json --stack-depth 256 --events jdk.ExecutionSample /tmp/x.jfr \\
        | python3 tools/jfr_shares.py -                           # or reads its output
    python3 tools/jfr_shares.py /tmp/x.jfr --top 30 --json
    python3 tools/jfr_shares.py /tmp/x.jfr --frame 'OcrRun\\$\\.ocr' --frame 'Corpus\\$\\.page'

Keeps the jdk.ExecutionSample events whose sampled thread's Java name starts
with "Executor task launch worker" (Spark's task threads) and prints, per
frame `package.Class.method`:

- self share: samples whose top frame it is, over all kept samples;
- inclusive share: samples with the frame anywhere on the stack (counted
  once per sample, so recursion does not inflate it), over all kept samples.
  The inclusive ranking lists only frames under `--within` (default
  `graft.`): every sample's stack holds Spark's task and thread frames.

`--frame REGEX` (repeatable) adds one row per pattern: the self and
inclusive share of the samples with a matching frame, top or anywhere. The
events are decoded one at a time, so a long recording's JSON is never held
in memory whole.
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


def shares(stream, patterns):
    """(kept samples, self counts, inclusive counts, per-pattern counts)."""
    n = 0
    top = collections.Counter()
    anywhere = collections.Counter()
    matched = {p.pattern: [0, 0] for p in patterns}
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
    return n, top, anywhere, matched


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("input", help="a .jfr recording, a `jfr print --json` file, or - for stdin")
    ap.add_argument("--top", type=int, default=25, help="frames listed per ranking")
    ap.add_argument("--frame", action="append", default=[], metavar="REGEX",
                    help="report the share of samples with a frame matching REGEX")
    ap.add_argument("--within", default="graft.",
                    help="frame-name prefix of the inclusive ranking ('' for all)")
    ap.add_argument("--json", action="store_true", help="print one JSON object")
    args = ap.parse_args()
    patterns = [re.compile(p) for p in args.frame]

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
        n, top, anywhere, matched = shares(stream, patterns)
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


if __name__ == "__main__":
    main()
