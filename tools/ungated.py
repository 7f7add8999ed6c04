#!/usr/bin/env python3
"""List the public Scala defs in src/main that nothing calls.

Prints one line per public member `def` under src/main/scala whose name
appears nowhere in code outside its own definitions: not in src/main,
not in perfbench/src, not in tools/. Tests do not count, so a def that
only a spec calls is listed: no query, benchmark, probe or tool gates
it.

Rules:
- Comments do not count as references: Scala `//` and `/* */` comments
  (scaladoc included), Python `#` comments and docstrings. String
  literals do count, since SQL text and reflective lookups name defs
  in strings.
- Matching is by name. A def is referenced if any other code site
  names it, whichever object that site means.
- "Public" means a member of an object, class or trait with no
  `private`/`protected` modifier, inside no private template. Local
  defs, members of anonymous classes, `override`s and `main` entry
  points are not listed.

Usage: python3 tools/ungated.py   (from the repo root; no flags)
Output: `<path>:<line> <Template>.<name>`, sorted by path and line.
"""
import io
import os
import re
import sys
import tokenize

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MAIN = os.path.join(ROOT, "src", "main", "scala")
OTHER = [os.path.join(ROOT, "perfbench", "src"), os.path.join(ROOT, "tools")]

IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
DEF_NAME = re.compile(r"\bdef\s+([A-Za-z_][A-Za-z0-9_]*)")
TEMPLATE = re.compile(r"\b(object|class|trait)\s+([A-Za-z_][A-Za-z0-9_]*)")
RESETS = {"def", "val", "var", "type", "import"}


def strip_scala(src):
    """Return (code, shape): `code` has comments blanked, `shape` has
    comments and string/char literals blanked. Newlines are kept, so
    offsets and line numbers match the source."""
    code, shape = [], []
    i, n = 0, len(src)

    def keep(text, in_shape=True):
        code.append(text)
        shape.append(text if in_shape else re.sub(r"[^\n]", " ", text))

    def blank(text):
        blanked = re.sub(r"[^\n]", " ", text)
        code.append(blanked)
        shape.append(blanked)

    while i < n:
        if src.startswith("//", i):
            j = src.find("\n", i)
            j = n if j < 0 else j
            blank(src[i:j])
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
            blank(src[i:j])
            i = j
        elif src.startswith('"""', i):
            j = src.find('"""', i + 3)
            j = n if j < 0 else j + 3
            while j < n and src[j] == '"':  # closing run like """"
                j += 1
            keep(src[i:j], in_shape=False)
            i = j
        elif src[i] == '"':
            j = i + 1
            while j < n and src[j] not in '"\n':
                j += 2 if src[j] == "\\" else 1
            j = min(j + 1, n)
            keep(src[i:j], in_shape=False)
            i = j
        elif src[i] == "'":
            m = re.match(r"'(\\u[0-9a-fA-F]{4}|\\.|[^\\'\n])'", src[i:])
            if m:
                keep(m.group(0), in_shape=False)
                i += len(m.group(0))
            else:
                keep(src[i])
                i += 1
        else:
            keep(src[i])
            i += 1
    return "".join(code), "".join(shape)


def strip_python(src):
    """Python source with comments and docstrings removed."""
    out = []
    prev = tokenize.NEWLINE
    try:
        for tok in tokenize.generate_tokens(io.StringIO(src).readline):
            if tok.type == tokenize.COMMENT:
                continue
            if tok.type == tokenize.STRING and prev in (
                    tokenize.NEWLINE, tokenize.NL, tokenize.INDENT,
                    tokenize.DEDENT):
                continue  # a docstring: an expression statement of its own
            if tok.type not in (tokenize.NL, tokenize.COMMENT):
                prev = tok.type
            out.append(tok.string)
    except (tokenize.TokenError, SyntaxError):
        return src
    return " ".join(out)


def public_defs(shape):
    """(line, template, name) for every public member def in `shape`."""
    defs = []
    stack = []        # one entry per open brace: (kind, name, private)
    pending = None    # template header seen, its body brace not yet
    paren = 0
    line = 1
    for m in re.finditer(r"[A-Za-z_][A-Za-z0-9_]*|[{}()\[\]\n;]", shape):
        tok = m.group(0)
        if tok == "\n":
            line += 1
        elif tok in "([":
            paren += 1
        elif tok in ")]":
            paren -= 1
        elif tok == ";":
            pending = None
        elif tok == "{":
            if pending and paren == 0:
                stack.append(("T", pending[0], pending[1]))
            else:
                stack.append(("B", None, False))
            pending = None
        elif tok == "}":
            if stack:
                stack.pop()
            pending = None
        elif tok in ("object", "class", "trait") and paren == 0:
            t = TEMPLATE.match(shape, m.start())
            if t:
                head = shape[shape.rfind("\n", 0, m.start()) + 1:m.start()]
                anonymous = re.search(r"\bnew\b", head) is not None
                private = re.search(r"\b(private|protected)\b", head) is not None
                if not anonymous:
                    pending = (t.group(2), private)
        elif tok in RESETS and paren == 0:
            pending = None
            if tok != "def":
                continue
            d = DEF_NAME.match(shape, m.start())
            if not d:
                continue
            if not stack or stack[-1][0] != "T":
                continue  # local def or anonymous-class member
            if any(kind == "T" and private for kind, _, private in stack):
                continue
            head = shape[shape.rfind("\n", 0, m.start()) + 1:m.start()]
            if re.search(r"\b(private|protected|override)\b", head):
                continue
            name = d.group(1)
            if name == "main":
                continue  # JVM entry point: the launcher calls it
            defs.append((line, stack[-1][1], name))
    return defs


def files(root, exts):
    for dirpath, _, names in os.walk(root):
        for name in sorted(names):
            if name.endswith(exts):
                yield os.path.join(dirpath, name)


def main():
    if len(sys.argv) > 1:
        sys.exit("usage: python3 tools/ungated.py  (takes no arguments)")
    uses = {}        # name -> occurrences in code, definitions included
    own = {}         # name -> number of `def name` sites in that code
    candidates = []  # (path, line, template, name)

    def count(code):
        for ident in IDENT.findall(code):
            uses[ident] = uses.get(ident, 0) + 1
        for name in DEF_NAME.findall(code):
            own[name] = own.get(name, 0) + 1

    for path in files(MAIN, (".scala",)):
        with open(path, encoding="utf-8") as f:
            code, shape = strip_scala(f.read())
        count(code)
        rel = os.path.relpath(path, ROOT)
        candidates += [(rel, ln, t, nm) for ln, t, nm in public_defs(shape)]
    for root in OTHER:
        for path in files(root, (".scala", ".py")):
            if path == os.path.abspath(__file__):
                continue  # this script's own identifiers are no callers
            with open(path, encoding="utf-8") as f:
                src = f.read()
            count(strip_scala(src)[0] if path.endswith(".scala")
                  else strip_python(src))

    for rel, ln, template, name in sorted(candidates):
        if uses.get(name, 0) - own.get(name, 0) <= 0:
            print(f"{rel}:{ln} {template}.{name}")


if __name__ == "__main__":
    main()
