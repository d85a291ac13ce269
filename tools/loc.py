#!/usr/bin/env python3
"""Count the code lines of the main Scala sources.

A code line is a non-blank line that is not a `//` line comment and not
part of a `/* ... */` (or `/** ... */`) block comment. A line with code
before a comment opens, or after one closes, counts as code.

    python3 tools/loc.py            # total for src/main/scala
    python3 tools/loc.py --files    # per-file counts, largest first
    python3 tools/loc.py some/dir   # another source root (or one file)
"""
import os
import sys


def code_lines(text):
    n = 0
    in_block = False
    for line in text.splitlines():
        s = line.strip()
        code = False
        while s:
            if in_block:
                end = s.find('*/')
                if end < 0:
                    s = ''
                else:
                    in_block = False
                    s = s[end + 2:].strip()
            elif s.startswith('//'):
                s = ''
            elif s.startswith('/*'):
                in_block = True
                s = s[2:]
            else:
                code = True
                break
        n += code
    return n


def main(argv):
    files_mode = '--files' in argv
    roots = [a for a in argv if not a.startswith('--')] or ['src/main/scala']
    counts = {}
    for root in roots:
        if os.path.isfile(root):
            with open(root, encoding='utf-8') as f:
                counts[root] = code_lines(f.read())
        for d, _, names in os.walk(root):
            for name in names:
                if name.endswith('.scala'):
                    p = os.path.join(d, name)
                    with open(p, encoding='utf-8') as f:
                        counts[p] = code_lines(f.read())
    if files_mode:
        for p, n in sorted(counts.items(), key=lambda kv: -kv[1]):
            print(f'{n:7d} {p}')
    print(sum(counts.values()))


if __name__ == '__main__':
    try:
        main(sys.argv[1:])
        sys.stdout.flush()
    except BrokenPipeError:
        # the reader closed the pipe (`| head`): stop quietly, and point
        # stdout at /dev/null so the interpreter's exit flush stays quiet
        os.dup2(os.open(os.devnull, os.O_WRONLY), sys.stdout.fileno())
        sys.exit(1)
