#!/usr/bin/env python3
"""List members of top-level `src/main` objects that no entry point reaches.

A member is a def, val, var, lazy val, class, case class, object, trait or
type declared directly in the body of a top-level `object` under
`src/main/scala`. Reachability is by name, over the code of `src/main` and
`perfbench/src` with comments removed:

  * roots are every identifier outside the members' own spans (top-level
    classes such as the DSv2 providers and `GraftSqlParser`, object
    initialisers, all of `perfbench/src`, the service files under
    `src/main/resources`), plus members named `main`, implicit members
    (used without their name) and the names listed in the keep file;
  * a member is reached if its name appears in a root or in the span of a
    reached member, other than at a declaration of that name.
    Unreachable cycles are therefore reported too;
  * inside string literals only class, object and trait names count (a
    class loaded by name); identifiers spliced into an interpolated string
    (`s"$x"`, `s"${f(x)}"`) are code.

Matching is by bare name, so a name shared by two members, a parameter or
a column keeps both: the tool under-reports and never flags reachable code.
`src/test` is not scanned; a member only a spec uses is reported.

Output is one line per unreached member: `file:line  name  lines a-b (n)`.

Usage:
  python3 tools/unreferenced_defs.py            # list unreached members
  python3 tools/unreferenced_defs.py --all      # also list kept ones
  python3 tools/unreferenced_defs.py --check    # exit 1 on any unreached
                                                # member not in the keep file

The keep file (`tools/unreferenced_defs.keep`) holds one `name  reason`
per line; `#` starts a comment. A kept name is a root, so what it calls is
reached through it. Names in the keep file that are reached anyway, or no
longer declared, are reported as stale (a warning, not a failure).
"""

import argparse
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MAIN = os.path.join(ROOT, "src", "main")
PERF = os.path.join(ROOT, "perfbench", "src")
KEEP = os.path.join(ROOT, "tools", "unreferenced_defs.keep")

DECL = {"def", "val", "var", "class", "object", "trait", "type"}
TYPE_DECL = {"class", "object", "trait"}
MODIFIERS = {"private", "protected", "final", "override", "implicit", "lazy",
             "sealed", "abstract", "case", "inline", "transparent"}
ROOT_NAMES = {"main"}
IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
OPCHARS = set("!#%&*+-/:<=>?@\\^|~")


class Tok:
    __slots__ = ("kind", "text", "line")

    def __init__(self, kind, text, line):
        self.kind = kind  # "id", "str" (identifier inside a literal), "sym"
        self.text = text
        self.line = line


def lex(src):
    """Tokens of Scala source without comments; braces balanced outside
    literals. String contents yield "str" tokens, interpolated splices
    yield ordinary tokens."""
    out = []
    i, n, line = 0, len(src), 1

    def string_body(i, triple, interp):
        """Lex a string body starting after the opening quote(s); return
        the index after the closing quote(s)."""
        nonlocal line
        buf_start = i
        while i < n:
            c = src[i]
            if c == "\n":
                line += 1
            if triple and src.startswith('"""', i) and not src.startswith('""""', i):
                emit_str(src[buf_start:i])
                return i + 3
            if not triple and c == '"':
                emit_str(src[buf_start:i])
                return i + 1
            if not triple and c == "\\":
                i += 2
                continue
            if interp and c == "$":
                emit_str(src[buf_start:i])
                if i + 1 < n and src[i + 1] == "{":
                    i = code(i + 2, stop_at_close=True)
                elif i + 1 < n and src[i + 1] == "$":
                    i += 2
                else:
                    m = IDENT.match(src, i + 1)
                    if m:
                        out.append(Tok("id", m.group(0), line))
                        i = m.end()
                    else:
                        i += 1
                buf_start = i
                continue
            i += 1
        return i

    def emit_str(s):
        for m in IDENT.finditer(s):
            out.append(Tok("str", m.group(0), line))

    def code(i, stop_at_close=False):
        nonlocal line
        depth = 0
        while i < n:
            c = src[i]
            if c == "\n":
                line += 1
                i += 1
            elif c.isspace():
                i += 1
            elif src.startswith("//", i):
                j = src.find("\n", i)
                i = n if j < 0 else j
            elif src.startswith("/*", i):
                nest, i = 1, i + 2
                while i < n and nest:
                    if src.startswith("/*", i):
                        nest, i = nest + 1, i + 2
                    elif src.startswith("*/", i):
                        nest, i = nest - 1, i + 2
                    else:
                        if src[i] == "\n":
                            line += 1
                        i += 1
            elif c == '"':
                prev = out[-1] if out else None
                interp = (prev is not None and prev.kind == "id"
                          and prev.line == line and i > 0
                          and IDENT.match(src[i - 1]) is not None)
                if interp:
                    out.pop()  # the interpolator (s, f, raw) is not a name
                if src.startswith('"""', i):
                    i = string_body(i + 3, True, interp)
                else:
                    i = string_body(i + 1, False, interp)
            elif c == "'":
                # char literal ('a', '\n', 'A') or a symbol/quote
                m = re.match(r"'(\\u[0-9a-fA-F]{4}|\\.|[^'\\\n])'", src[i:i + 8])
                i += m.end() if m else 1
            elif c == "`":
                j = src.find("`", i + 1)
                out.append(Tok("id", src[i + 1:j], line))
                i = j + 1
            elif IDENT.match(c):
                m = IDENT.match(src, i)
                out.append(Tok("id", m.group(0), line))
                i = m.end()
            elif c.isdigit():
                m = re.match(r"[0-9][0-9A-Za-z_.]*", src[i:])
                i += m.end()
            elif c in "{}()[]":
                if stop_at_close:
                    if c == "{":
                        depth += 1
                    elif c == "}":
                        if depth == 0:
                            return i + 1
                        depth -= 1
                out.append(Tok("sym", c, line))
                i += 1
            elif c in OPCHARS:
                j = i
                while j < n and src[j] in OPCHARS:
                    j += 1
                out.append(Tok("sym", src[i:j], line))
                i = j
            else:
                out.append(Tok("sym", c, line))
                i += 1
        return i

    code(0)
    return out


class Member:
    __slots__ = ("name", "kind", "path", "obj", "start", "end", "line",
                 "end_line", "name_idx", "modifiers")

    def __init__(self, name, kind, path, obj, start, line, name_idx, modifiers):
        self.name, self.kind, self.path, self.obj = name, kind, path, obj
        self.start, self.line, self.name_idx = start, line, name_idx
        self.modifiers = modifiers
        self.end = start
        self.end_line = line


def members_of(path, toks):
    """Members declared directly in the body of each top-level object."""
    found = []
    brace = paren = 0
    obj_name, obj_depth = None, None
    pending_obj = None
    i = 0
    while i < len(toks):
        t = toks[i]
        if t.kind == "sym" and t.text in "([":
            paren += 1
        elif t.kind == "sym" and t.text in ")]":
            paren -= 1
        elif t.kind == "sym" and t.text == "{":
            brace += 1
            if pending_obj is not None and paren == 0:
                obj_name, obj_depth = pending_obj, brace
                pending_obj = None
        elif t.kind == "sym" and t.text == "}":
            if obj_depth is not None and brace == obj_depth:
                close_members(found, obj_name, i)
                obj_name, obj_depth = None, None
            brace -= 1
        elif t.kind == "id" and brace == 0 and paren == 0 and t.text == "object":
            pending_obj = toks[i + 1].text
        elif (obj_depth is not None and brace == obj_depth and paren == 0
              and ((t.kind == "id" and (t.text in DECL or t.text in MODIFIERS))
                   or (t.kind == "sym" and t.text == "@"))):
            j, mods, start = i, set(), i
            # annotations and modifiers, then the keyword and the name
            while j < len(toks):
                tj = toks[j]
                if tj.kind == "sym" and tj.text == "@":
                    j += 2
                    while j + 1 < len(toks) and toks[j].text == ".":
                        j += 2
                    if j < len(toks) and toks[j].text == "(":
                        j = skip_group(toks, j)
                elif tj.kind == "id" and tj.text in MODIFIERS:
                    mods.add(tj.text)
                    j += 1
                    if j < len(toks) and toks[j].text == "[":
                        j = skip_group(toks, j)
                else:
                    break
            if j < len(toks) and toks[j].kind == "id" and toks[j].text in DECL \
                    and j + 1 < len(toks) and toks[j + 1].kind == "id":
                kind = toks[j].text
                name_idx = j + 1
                close_members(found, obj_name, start)
                found.append(Member(toks[name_idx].text, kind, path, obj_name,
                                    start, toks[start].line, name_idx, mods))
                # keep brace/paren tracking exact: resume on the name token
                i = name_idx
                continue
        i += 1
    return found


def skip_group(toks, j):
    """Index after the bracket group opening at toks[j]."""
    open_, close = toks[j].text, {"(": ")", "[": "]"}[toks[j].text]
    depth = 0
    while j < len(toks):
        if toks[j].text == open_:
            depth += 1
        elif toks[j].text == close:
            depth -= 1
            if depth == 0:
                return j + 1
        j += 1
    return j


def close_members(found, obj, idx):
    """Close the open member of `obj` (if any) just before token idx."""
    if found and found[-1].obj == obj and found[-1].end == found[-1].start:
        found[-1].end = idx


def scan():
    files = []
    for base in (MAIN, PERF):
        for d, _, names in os.walk(base):
            for nm in sorted(names):
                files.append(os.path.join(d, nm))
    files.sort()
    members, roots = [], []  # roots: (kind, text) outside member spans
    spans = {}  # member -> tokens of its span
    for path in files:
        with open(path, encoding="utf-8") as fh:
            src = fh.read()
        rel = os.path.relpath(path, ROOT)
        if not path.endswith((".scala", ".java")):
            roots.extend(("id", m.group(0)) for m in IDENT.finditer(src))
            continue
        toks = lex(src)
        if not path.startswith(MAIN):
            roots.extend((t.kind, t.text) for t in toks)
            continue
        ms = members_of(rel, toks)
        covered = set()
        for m in ms:
            m.end_line = toks[m.end - 1].line if m.end > m.start else m.line
            spans[m] = [(t.kind, t.text) for k, t in enumerate(toks[m.start:m.end], m.start)
                        if k != m.name_idx]
            covered.update(range(m.start, m.end))
        roots.extend((t.kind, t.text) for k, t in enumerate(toks) if k not in covered)
        members.extend(ms)
    return members, roots, spans


def reach(members, roots, spans, extra_roots):
    type_names = {m.name for m in members if m.kind in TYPE_DECL}
    by_name = {}
    for m in members:
        by_name.setdefault(m.name, []).append(m)

    def names_in(tokens):
        for kind, text in tokens:
            if kind == "id" or (kind == "str" and text in type_names):
                yield text

    reached, work = set(), []

    def mark(name):
        for m in by_name.get(name, ()):
            if m not in reached:
                reached.add(m)
                work.append(m)

    for name in set(names_in(roots)) | ROOT_NAMES | set(extra_roots):
        mark(name)
    for m in members:
        if "implicit" in m.modifiers:
            mark(m.name)
    while work:
        for name in set(names_in(spans[work.pop()])):
            mark(name)
    return [m for m in members if m not in reached]


def read_keep():
    keep = {}
    if not os.path.exists(KEEP):
        return keep
    with open(KEEP, encoding="utf-8") as fh:
        for raw in fh:
            line = raw.split("#", 1)[0].strip()
            if line:
                name, _, reason = line.partition(" ")
                keep[name] = reason.strip()
    return keep


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--check", action="store_true",
                    help="exit 1 if an unreached member is not in the keep file")
    ap.add_argument("--all", action="store_true",
                    help="also list unreached members the keep file holds")
    args = ap.parse_args(argv)

    members, roots, spans = scan()
    keep = read_keep()
    bare = reach(members, roots, spans, ())
    flagged = reach(members, roots, spans, keep)
    shown = bare if args.all else flagged
    for m in sorted(shown, key=lambda m: (m.path, m.line)):
        tag = f"  [kept: {keep[m.name]}]" if m.name in keep else ""
        n = m.end_line - m.line + 1
        print(f"{m.path}:{m.line}  {m.obj}.{m.name}  lines {m.line}-{m.end_line} ({n}){tag}")

    declared = {m.name for m in members}
    bare_names = {m.name for m in bare}
    for name in sorted(keep):
        if name not in declared:
            print(f"stale keep entry: {name} is not declared", file=sys.stderr)
        elif name not in bare_names:
            print(f"stale keep entry: {name} is reached without the keep file",
                  file=sys.stderr)
    total = sum(m.end_line - m.line + 1 for m in flagged)
    print(f"{len(flagged)} unreached members not in the keep file, {total} lines "
          f"({len(bare)} unreached before the keep file)", file=sys.stderr)
    if args.check and flagged:
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
