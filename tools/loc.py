#!/usr/bin/env python3
"""Count code lines under src/main: blank lines and lines holding only
comments are excluded. Prints ONE JSON line:

    {"total": N, "files": {"src/main/scala/graft/Bench.scala": n, ...}}

Usage: python3 tools/loc.py [repo_root]   (default: the current directory)

With `--against REV` it compares the working tree with git revision REV
(read through `git show`; the working tree is never touched) and prints

    {"against": "REV", "total": [parent, change],
     "files": {"src/main/...": [parent, change], ...}}

listing only the files whose counts differ (0 for a file one side lacks).

The lexer knows Scala/Java comments (`//`, nested `/* */`), string
literals (plain, interpolated with `${...}` expressions, and
triple-quoted across lines) and character literals, so comment markers
inside strings and lines inside multi-line strings count correctly.
"""
import json
import os
import subprocess
import sys

SOURCE_SUFFIXES = (".scala", ".java")


def code_lines(text):
    """Number of lines of `text` carrying at least one code character."""
    count = 0
    block = 0      # nesting depth of open /* */ comments
    tstr = False   # inside a triple-quoted string
    for line in text.split("\n"):
        has_code = tstr  # a line inside a multi-line string is code
        i, n = 0, len(line)
        while i < n:
            c, nxt = line[i], line[i + 1:i + 2]
            if block:
                if c == "/" and nxt == "*":
                    block, i = block + 1, i + 2
                elif c == "*" and nxt == "/":
                    block, i = block - 1, i + 2
                else:
                    i += 1
            elif tstr:
                if line.startswith('"""', i):
                    i += 3
                    while i < n and line[i] == '"':  # a longer run of quotes ends with the delimiter
                        i += 1
                    tstr = False
                else:
                    i += 1
            elif c.isspace():
                i += 1
            elif c == "/" and nxt == "/":
                break
            elif c == "/" and nxt == "*":
                block, i = 1, i + 2
            else:
                has_code = True
                if line.startswith('"""', i):
                    tstr, i = True, i + 3
                elif c == '"':
                    i = _string(line, i)
                elif c == "'":
                    i = _char(line, i)
                else:
                    i += 1
        if has_code:
            count += 1
    return count


def _string(line, i):
    """Skip the single-line string literal opening at `i` (its `${...}`
    expressions included); return the index after it."""
    interpolated = i > 0 and (line[i - 1].isalnum() or line[i - 1] == "_")
    j = i + 1
    while j < len(line):
        if line[j] == "\\":
            j += 2
        elif line[j] == '"':
            return j + 1
        elif interpolated and line.startswith("${", j):
            j = _expr(line, j + 2)
        else:
            j += 1
    return j


def _expr(line, i):
    """Skip an interpolated expression from `i` through its closing `}`."""
    depth = 0
    while i < len(line):
        c = line[i]
        if c == '"':
            i = _string(line, i)
            continue
        if c == "{":
            depth += 1
        elif c == "}":
            if depth == 0:
                return i + 1
            depth -= 1
        i += 1
    return i


def _char(line, i):
    """Skip a character literal at `i` when it is one; else just the quote."""
    if line.startswith("\\", i + 1):
        end = line.find("'", i + 2)
        return end + 1 if end > 0 else i + 1
    if i + 2 < len(line) and line[i + 2] == "'":
        return i + 3
    return i + 1


def tree_counts(root):
    """Code lines per source file under `root`/src/main."""
    files = {}
    for dirpath, _, names in os.walk(os.path.join(root, "src", "main")):
        for name in names:
            if name.endswith(SOURCE_SUFFIXES):
                full = os.path.join(dirpath, name)
                with open(full, encoding="utf-8") as fh:
                    files[os.path.relpath(full, root)] = code_lines(fh.read())
    return files


def rev_counts(root, rev):
    """Code lines per source file under src/main at git revision `rev`."""
    def git(*args):
        return subprocess.run(["git", "-C", root, *args], check=True,
                              capture_output=True).stdout.decode("utf-8")
    names = git("ls-tree", "-r", "--name-only", rev, "--", "src/main").splitlines()
    return {n: code_lines(git("show", f"{rev}:{n}"))
            for n in names if n.endswith(SOURCE_SUFFIXES)}


def main():
    args = sys.argv[1:]
    rev = None
    if "--against" in args:
        i = args.index("--against")
        rev = args[i + 1]
        del args[i:i + 2]
    root = args[0] if args else "."
    files = tree_counts(root)
    if rev is None:
        files = dict(sorted(files.items()))
        print(json.dumps({"total": sum(files.values()), "files": files}, separators=(",", ":")))
        return
    before = rev_counts(root, rev)
    changed = {n: [before.get(n, 0), files.get(n, 0)]
               for n in sorted(set(before) | set(files)) if before.get(n, 0) != files.get(n, 0)}
    print(json.dumps({"against": rev, "total": [sum(before.values()), sum(files.values())],
                      "files": changed}, separators=(",", ":")))


if __name__ == "__main__":
    main()
