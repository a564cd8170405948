#!/usr/bin/env python3
"""List every `def` in src/main/scala that nothing references.

A def counts as referenced when its name appears as a word in the code
(comments stripped) of any .scala file under src/ or perfbench/scala/
more often than it is defined in src/main/scala. `override def`s are
skipped (the caller is the framework), and so are `main` methods (the
caller is the JVM). Prints one `path: name` line per unreferenced def
and exits 1 when it prints any.

    python3 tools/dead_defs.py [repo-root]
"""
import collections
import os
import re
import sys

DEF = re.compile(r"(?<![\w.])(override\s+)?"
                 r"(?:(?:private|protected)(?:\[\w+\])?\s+|final\s+|implicit\s+|@\w+\s+)*"
                 r"def\s+([A-Za-z_]\w*)")


def scala_files(root, sub):
    for dirpath, _, names in os.walk(os.path.join(root, sub)):
        for n in sorted(names):
            if n.endswith(".scala"):
                yield os.path.join(dirpath, n)


def code(path):
    """The file's text with block and line comments blanked out."""
    t = open(path, encoding="utf-8").read()
    t = re.sub(r"/\*.*?\*/", lambda m: "\n" * m.group(0).count("\n"), t, flags=re.S)
    return re.sub(r"//[^\n]*", "", t)


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.join(os.path.dirname(__file__), "..")
    defs = [(m.group(2), path)
            for path in scala_files(root, "src/main/scala")
            for m in DEF.finditer(code(path)) if not m.group(1)]
    words = collections.Counter(
        w for sub in ("src", "perfbench/scala") for path in scala_files(root, sub)
        for w in re.findall(r"[A-Za-z_]\w*", code(path)))
    defined = collections.Counter(name for name, _ in defs)
    dead = sorted({(os.path.relpath(path, root), name) for name, path in defs
                   if name != "main" and words[name] <= defined[name]})
    for path, name in dead:
        print(f"{path}: {name}")
    return 1 if dead else 0


if __name__ == "__main__":
    sys.exit(main())
