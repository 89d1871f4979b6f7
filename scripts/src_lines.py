#!/usr/bin/env python3
"""Count the lines of src/main/scala, with and without blank and
comment lines.

Counts the working tree, or a git revision when one is given (its files
are read through `git show`, so the working tree is not touched):

    python3 scripts/src_lines.py            # working tree
    python3 scripts/src_lines.py HEAD~1     # a revision

A line counts as code when anything but whitespace is left on it once
`//` line comments and (nested) `/* ... */` block comments are removed;
string and character literals are code, and comment markers inside them
are not comments.
"""
import os
import subprocess
import sys

ROOT = "src/main/scala"


def code_lines(text):
    """The number of lines of `text` that carry code."""
    lines = set()
    line, i, n = 0, 0, len(text)
    depth = 0        # nesting depth of block comments
    quote = None     # '"' or '"""' while inside a string literal
    while i < n:
        c = text[i]
        if c == "\n":
            line += 1
            i += 1
        elif depth:
            if text.startswith("/*", i):
                depth, i = depth + 1, i + 2
            elif text.startswith("*/", i):
                depth, i = depth - 1, i + 2
            else:
                i += 1
        elif quote:
            lines.add(line)
            if c == "\\" and quote == '"':
                i += 2
            elif text.startswith(quote, i):
                i += len(quote)
                quote = None
            else:
                i += 1
        elif text.startswith("//", i):
            end = text.find("\n", i)
            i = n if end < 0 else end
        elif text.startswith("/*", i):
            depth, i = 1, i + 2
        elif c == '"':
            lines.add(line)
            quote = '"""' if text.startswith('"""', i) else '"'
            i += len(quote)
        elif c == "'" and text.startswith("'", i + 2) and text[i + 1] != "\n":
            lines.add(line)  # a character literal such as '"'
            i += 3
        elif c == "'" and text.startswith("\\", i + 1):
            lines.add(line)  # an escaped character literal such as '\''
            end = text.find("'", i + 3)
            i = n if end < 0 else end + 1
        else:
            if not c.isspace():
                lines.add(line)
            i += 1
    return len(lines)


def sources(rev):
    """(path, text) of every .scala file under ROOT, at `rev` or in the
    working tree when `rev` is None."""
    if rev is None:
        for d, _, files in sorted(os.walk(ROOT)):
            for f in sorted(files):
                if f.endswith(".scala"):
                    p = os.path.join(d, f)
                    with open(p, encoding="utf-8") as fh:
                        yield p, fh.read()
        return
    names = subprocess.run(
        ["git", "ls-tree", "-r", "--name-only", rev, "--", ROOT],
        check=True, capture_output=True, text=True).stdout.split()
    for p in names:
        if p.endswith(".scala"):
            yield p, subprocess.run(
                ["git", "show", f"{rev}:{p}"], check=True,
                capture_output=True, text=True).stdout


def main(argv):
    if len(argv) > 2 or argv[1:2] in (["-h"], ["--help"]):
        sys.exit(__doc__)
    rev = argv[1] if len(argv) == 2 else None
    files = total = code = 0
    for _, text in sources(rev):
        files += 1
        total += text.count("\n") + (0 if text.endswith("\n") or not text else 1)
        code += code_lines(text)
    where = rev or "working tree"
    print(f"{ROOT} ({where}): {files} files, {total} lines, "
          f"{code} without blank and comment lines")


if __name__ == "__main__":
    main(sys.argv)
