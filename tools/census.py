#!/usr/bin/env python3
"""Size and knob census of the Scala sources under src/main.

    python3 tools/census.py            # the working tree
    python3 tools/census.py <root>     # another checkout

Prints, for every .scala file under <root>/src/main:

- total lines, and non-blank, non-comment lines (a line is a comment line
  when it holds nothing but `//` or `/* ... */` comment text);
- each distinct environment variable read (`sys.env...("KEY")`,
  `System.getenv("KEY")`) and system property read (`sys.props...("key")`,
  `System.getProperty("key")`), with the files that read it; a key passed
  as a constant is resolved through a `val NAME = "key"` in the same file;
- each object that defines `def main`.

Standard library only.
"""
import os
import re
import sys

ENV_RE = re.compile(
    r'(?:sys\.env(?:\.(?:get|getOrElse|contains|apply))?|System\.getenv)'
    r'\(\s*("[^"]*"|[A-Za-z_][A-Za-z0-9_]*)')
PROP_RE = re.compile(
    r'(?:sys\.props(?:\.(?:get|getOrElse|contains|apply))?|System\.getProperty)'
    r'\(\s*("[^"]*"|[A-Za-z_][A-Za-z0-9_]*)')
CONST_RE = re.compile(r'\bval\s+([A-Za-z_][A-Za-z0-9_]*)\s*(?::\s*String\s*)?=\s*"([^"]*)"')
OBJECT_RE = re.compile(r'\bobject\s+([A-Za-z_][A-Za-z0-9_]*)')
MAIN_RE = re.compile(r'\bdef\s+main\s*\(')


def code_lines(text):
    """The lines of `text` that hold something other than comments. Only a
    comment that starts a line counts: a `/*` after code on the same line
    is left alone, since it may sit inside a string literal."""
    out = []
    in_block = False
    for line in text.splitlines():
        rest = line.strip()
        if in_block:
            if "*/" not in rest:
                continue
            in_block = False
            rest = rest[rest.index("*/") + 2:].strip()
        elif rest.startswith("/*"):
            if "*/" not in rest[2:]:
                in_block = True
                continue
            rest = rest[rest.index("*/", 2) + 2:].strip()
        if rest and not rest.startswith("//"):
            out.append(line)
    return out


def keys(pattern, text, consts):
    found = set()
    for m in pattern.finditer(text):
        arg = m.group(1)
        if arg.startswith('"'):
            found.add(arg[1:-1])
        else:
            found.add(consts.get(arg, arg))
    return found


def census(root):
    src = os.path.join(root, "src", "main")
    total = code = 0
    env, props, mains = {}, {}, []
    for d, _, files in sorted(os.walk(src)):
        for f in sorted(files):
            if not f.endswith(".scala"):
                continue
            path = os.path.join(d, f)
            rel = os.path.relpath(path, src)
            with open(path, encoding="utf-8") as fh:
                text = fh.read()
            total += len(text.splitlines())
            lines = code_lines(text)
            code += len(lines)
            body = "\n".join(lines)
            consts = dict(CONST_RE.findall(body))
            for k in keys(ENV_RE, body, consts):
                env.setdefault(k, []).append(rel)
            for k in keys(PROP_RE, body, consts):
                props.setdefault(k, []).append(rel)
            obj = None
            for line in lines:
                o = OBJECT_RE.search(line)
                if o:
                    obj = o.group(1)
                if MAIN_RE.search(line) and obj is not None:
                    mains.append((obj, rel))
    return total, code, env, props, mains


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else \
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    total, code, env, props, mains = census(root)
    print(f"src/main Scala lines: {total}")
    print(f"src/main non-blank, non-comment lines: {code}")
    print(f"env keys read: {len(env)}")
    for k in sorted(env):
        print(f"  {k}  ({', '.join(env[k])})")
    print(f"system property keys read: {len(props)}")
    for k in sorted(props):
        print(f"  {k}  ({', '.join(props[k])})")
    print(f"objects with def main: {len(mains)}")
    for o, rel in sorted(mains):
        print(f"  {o}  ({rel})")


if __name__ == "__main__":
    main()
