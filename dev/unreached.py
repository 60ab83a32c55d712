#!/usr/bin/env python3
"""List src/main members that no code refers to.

Strips comments (so scaladoc [[links]] and prose are not references) from
every .scala file under src/main and perfbench/src, then prints
`file:line name` for each non-`override` member of src/main whose name
occurs nowhere in that code except at its own definition.

A member is a def/val/var/type declared directly in an object, class or
trait body, or an object/class/trait nested in one (locals are skipped).
Package-level types are the roots: `dev/run.sh`, `spark.sql.extensions`
and the data-source loader reach them by name from outside the code.
An occurrence in another file counts for a member of `object O` only
where that file also names `O`, so a local that shares the member's name
does not keep it alive. `main` (the JVM entry) and the syntax-invoked
`apply`/`unapply`/`unapplySeq`/`update` are never listed.

A listed name is referenced only by tests (or by nothing). The scan is
by name, so it can miss a dead member whose name a live one shares.

Usage: dev/unreached.py
"""
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCOPES = ["src/main", "perfbench/src"]
KEYWORDS = {"def", "val", "var", "type", "object", "class", "trait"}
TEMPLATE = {"object", "class", "trait"}
NEVER = {"main", "apply", "unapply", "unapplySeq", "update"}
IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def strip_comments(src):
    """Blank out // and (nested) /* */ comments, keeping strings and newlines."""
    out, i, n = [], 0, len(src)
    while i < n:
        c = src[i]
        if src.startswith('"""', i):
            j = src.find('"""', i + 3)
            j = n if j < 0 else j + 3
            while j < n and src[j] == '"':
                j += 1
            out.append(src[i:j])
            i = j
        elif c == '"':
            j = i + 1
            while j < n and src[j] != '"' and src[j] != "\n":
                j += 2 if src[j] == "\\" else 1
            out.append(src[i:j + 1])
            i = j + 1
        elif c == "'" and re.match(r"'(\\.|\\u[0-9a-fA-F]{4}|[^\\'])'", src[i:i + 8]):
            j = src.index("'", i + 2 if src[i + 1] != "\\" else i + 3) + 1
            out.append(src[i:j])
            i = j
        elif src.startswith("//", i):
            j = src.find("\n", i)
            j = n if j < 0 else j
            out.append(" " * (j - i))
            i = j
        elif src.startswith("/*", i):
            depth, j = 1, i + 2
            while j < n and depth:
                if src.startswith("/*", j):
                    depth, j = depth + 1, j + 2
                elif src.startswith("*/", j):
                    depth, j = depth - 1, j + 2
                else:
                    j += 1
            out.append(re.sub(r"[^\n]", " ", src[i:j]))
            i = j
        else:
            out.append(c)
            i += 1
    return "".join(out)


def members(text):
    """Yield (offset, name, owner) for each member definition.

    owner is the enclosing object's name, or None for package level and
    class/trait bodies. A `{` opens a template body when an object, class
    or trait keyword came before it with no def/val/var/type or `=` in
    between at the same paren depth.
    """
    stack = []  # per open brace: (is_template, object name or None)
    pending = None  # (kind, name) of a template header awaiting its `{`
    parens = 0
    prev = None
    for m in re.finditer(r"[A-Za-z_][A-Za-z0-9_]*|[{}()\[\]=]|\S", text):
        tok = m.group()
        if tok in "([":
            parens += 1
        elif tok in ")]":
            parens -= 1
        elif tok == "{" and parens == 0:
            stack.append((pending is not None, pending[1] if pending and pending[0] == "object" else None))
            pending = None
        elif tok == "}" and parens == 0:
            if stack:
                stack.pop()
            pending = None
        elif tok == "=" and parens == 0:
            pending = None
        elif prev in KEYWORDS and parens == 0 and IDENT.fullmatch(tok):
            in_template = not stack or stack[-1][0]
            if prev in TEMPLATE:
                pending = (prev, tok)
            else:
                pending = None
            if in_template and (stack or prev not in TEMPLATE):
                line_start = text.rfind("\n", 0, m.start()) + 1
                if "override" not in text[line_start:m.start()].split():
                    yield m.start(), tok, (stack[-1][1] if stack else None)
        prev = tok


def scala_files():
    for scope in SCOPES:
        for d, _, fs in os.walk(os.path.join(ROOT, scope)):
            for f in sorted(fs):
                if f.endswith(".scala"):
                    yield os.path.join(d, f)


def main():
    texts = {}
    for path in scala_files():
        with open(path, encoding="utf-8") as fh:
            texts[os.path.relpath(path, ROOT)] = strip_comments(fh.read())
    defs = []  # (file, offset, name, owner)
    for f, text in texts.items():
        if f.startswith("src/main/"):
            defs.extend((f, off, name, owner) for off, name, owner in members(text))
    def_sites = {(f, off) for f, off, _, _ in defs}
    words = {f: set(IDENT.findall(t)) for f, t in texts.items()}
    found = []
    for f, off, name, owner in defs:
        if name in NEVER:
            continue
        pat = re.compile(r"(?<![A-Za-z0-9_])" + re.escape(name) + r"(?![A-Za-z0-9_])")
        used = False
        for g, text in texts.items():
            if name not in words[g] or (g != f and owner and owner not in words[g]):
                continue
            if any((g, m.start()) not in def_sites for m in pat.finditer(text)):
                used = True
                break
        if not used:
            found.append((f, texts[f].count("\n", 0, off) + 1, name))
    for f, line, name in sorted(found):
        print(f"{f}:{line} {name}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
