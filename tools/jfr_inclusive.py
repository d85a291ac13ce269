#!/usr/bin/env python3
"""Inclusive CPU-sample share of named frames in a JFR recording.

A frame's inclusive share is the fraction of execution samples whose stack
contains it anywhere, so nested layers add up the way a flame graph shows
them (a parse inside a sink write counts for both).

    python3 tools/jfr_inclusive.py REC.jfr [--threads REGEX] [NAME ...]

REC is a .jfr file (read with `jfr print --events jdk.ExecutionSample
--stack-depth 200`) or the saved text of such a print. NAME is a substring
matched against each frame's method (default: the ingest path's layers).
`--threads` keeps only samples whose thread name matches REGEX, e.g.
'Executor task launch' for task threads. `--under FRAME` counts a NAME only
where it sits leaf-side of a frame matching FRAME (what FRAME calls), still
as a share of all kept samples. Stacks deeper than 200 frames are cut at the
leaf side by `jfr print`, so a root-side NAME reads low there.
"""
import argparse
import re
import subprocess
import sys

DEFAULT = ["JsonToStructs", "WireKernel", "JsonRowFileWriter", "ManifestMeta$.esc",
           "StatsCollector", "graft.functions.Fpe"]


def samples(text):
    """Yield (thread name, [frames]) per jdk.ExecutionSample event."""
    thread, frames, in_stack = None, [], False
    for line in text.splitlines():
        s = line.strip()
        if s.startswith("jdk.ExecutionSample"):
            thread, frames, in_stack = None, [], False
        elif s.startswith("sampledThread"):
            m = re.search(r'"(.*)"', s)
            thread = m.group(1) if m else s
        elif s.startswith("stackTrace = ["):
            in_stack = True
        elif in_stack and s == "]":
            in_stack = False
            yield thread or "", frames
        elif in_stack and s and s != "...":
            frames.append(s)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("recording")
    ap.add_argument("names", nargs="*")
    ap.add_argument("--threads", default=None)
    ap.add_argument("--under", default=None)
    a = ap.parse_intermixed_args()
    if a.recording.endswith(".jfr"):
        text = subprocess.run(
            ["jfr", "print", "--events", "jdk.ExecutionSample", "--stack-depth", "200",
             a.recording], check=True, capture_output=True, text=True).stdout
    else:
        with open(a.recording) as f:
            text = f.read()
    names = a.names or DEFAULT
    keep = re.compile(a.threads) if a.threads else None
    total = 0
    hits = dict.fromkeys(names, 0)
    for thread, frames in samples(text):
        if keep and not keep.search(thread):
            continue
        total += 1
        if a.under:
            # frames run leaf first: keep those above the root-most FRAME
            at = [i for i, f in enumerate(frames) if a.under in f]
            frames = frames[:at[-1]] if at else []
        for n in names:
            if any(n in f for f in frames):
                hits[n] += 1
    if total == 0:
        sys.exit("no execution samples matched")
    print(f"samples {total}")
    for n in names:
        print(f"{n:<32} {100.0 * hits[n] / total:6.1f}%  ({hits[n]})")


if __name__ == "__main__":
    main()
