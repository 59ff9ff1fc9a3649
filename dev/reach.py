#!/usr/bin/env python3
"""Name-reachability scan over the library sources (stdlib only).

Usage: python3 dev/reach.py [--check] [repoDir]

Lists every member (object, class, trait, def, val) under src/main that no
root reaches, with its line count (doc comment included), then the total.
With --check it lists nothing and instead fails (exit 1) naming every
unreached member that dev/reach_keep.txt does not keep, and every keep
entry that names no unreached member; it exits 0 and prints one
"reach check: ok" line when the two agree.
The roots are:
  - every line of SparkEntry.scala and GraftExtensions.scala (the oracle
    queries and the SQL functions);
  - every Scala file under perfbench/;
  - every `def main`.
A reached member makes every identifier in its body reached, and so on to a
fixed point. A member whose name is used is reached only when its
enclosing type already is, so a live name inside a dead type does not
revive the type. `override`, `implicit`, `apply` and `unapply` members
are reached exactly when their enclosing type is. Comments are not read;
string literals are (generated Java code names its helpers inside strings).

The scan goes by name, not by symbol: a name defined twice is reached when
either is used. So it can miss dead code, and every member it lists has no
caller at all outside src/test."""
import os
import re
import sys

DEF_RE = re.compile(
    r"^(\s*)((?:(?:(?:private|protected)(?:\[\w+\])?|override|final|implicit|"
    r"lazy|sealed|abstract|case)\s+)*)(def|val|var|object|class|trait)\s+"
    r"([A-Za-z_][A-Za-z0-9_]*)")
IDENT_RE = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
TYPES = {"object", "class", "trait"}
ROOT_FILES = {"SparkEntry.scala", "GraftExtensions.scala"}
KEEP_FILE = os.path.join("dev", "reach_keep.txt")
ALWAYS = {"apply", "unapply", "main"}


def strip_comments(src):
    """Blank out // and (nested) /* */ comments, keeping strings and the
    line structure."""
    out, i, depth, n = [], 0, 0, len(src)
    while i < n:
        c, two = src[i], src[i:i + 2]
        if depth:
            if two == "/*":
                depth += 1; out.append("  "); i += 2
            elif two == "*/":
                depth -= 1; out.append("  "); i += 2
            else:
                out.append("\n" if c == "\n" else " "); i += 1
        elif two == "/*":
            depth = 1; out.append("  "); i += 2
        elif two == "//":
            j = src.find("\n", i)
            j = n if j < 0 else j
            out.append(" " * (j - i)); i = j
        elif src.startswith('"""', i):
            j = src.find('"""', i + 3)
            j = n if j < 0 else j + 3
            out.append(src[i:j]); i = j
        elif c == '"':
            j = i + 1
            while j < n and src[j] not in '"\n':
                j += 2 if src[j] == "\\" else 1
            out.append(src[i:j + 1]); i = j + 1
        elif c == "'" and src[i + 2:i + 3] == "'":
            out.append(src[i:i + 3]); i += 3
        else:
            out.append(c); i += 1
    return "".join(out)


def indent(line):
    return len(line) - len(line.lstrip())


class Member:
    def __init__(self, path, kind, name, mods, lo, hi, start, owner):
        self.path, self.kind, self.name, self.mods = path, kind, name, mods
        self.lo, self.hi, self.start, self.owner = lo, hi, start, owner
        self.children, self.tokens, self.reached = [], set(), False

    def qual(self):
        return f"{self.owner.qual()}.{self.name}" if self.owner else self.name


def extent_end(code, i):
    """Last line of the definition that starts on line i."""
    d, last = indent(code[i]), i
    for j in range(i + 1, len(code)):
        s = code[j].strip()
        if not s:
            continue
        if indent(code[j]) < d:
            break
        if indent(code[j]) == d and s[0] != ".":  # "." continues a chain
            return j if s[0] in "})]" else last
        last = j
    return last


def doc_start(orig, i):
    while i > 0 and orig[i - 1].strip().startswith(("/*", "*", "//", "@")):
        i -= 1
    return i


def parse(path):
    src = open(path, encoding="utf-8").read()
    orig, code = src.split("\n"), strip_comments(src).split("\n")
    members, stack = [], []
    for i, line in enumerate(code):
        m = DEF_RE.match(line)
        while stack and stack[-1].hi < i:
            stack.pop()
        if not m:
            continue
        if stack and stack[-1].kind not in TYPES:
            continue  # a local definition: part of its enclosing body
        owner = stack[-1] if stack else None
        mem = Member(path, m.group(3), m.group(4), (m.group(2) or "").split(),
                     i, extent_end(code, i), doc_start(orig, i), owner)
        if owner:
            owner.children.append(mem)
        members.append(mem)
        stack.append(mem)
    for mem in members:
        own = set(range(mem.lo, mem.hi + 1))
        for ch in mem.children:
            own -= set(range(ch.lo, ch.hi + 1))
        for k in own:
            mem.tokens.update(IDENT_RE.findall(code[k]))
    return members, {t for l in code for t in IDENT_RE.findall(l)}


def scala_files(root):
    for d, _, fs in os.walk(root):
        for f in sorted(fs):
            if f.endswith(".scala"):
                yield os.path.join(d, f)


def unreached(repo):
    """Members no root reaches whose enclosing type is reached (a dead
    type's members are counted in the type's lines)."""
    names, members, roots = set(), [], []
    for p in scala_files(os.path.join(repo, "perfbench", "src")):
        names |= parse(p)[1]
    for p in scala_files(os.path.join(repo, "src", "main")):
        ms, toks = parse(p)
        members += ms
        if os.path.basename(p) in ROOT_FILES:
            names |= toks
            roots += ms
        roots += [m for m in ms if m.kind == "def" and m.name == "main"]

    def reach(m):
        while m and not m.reached:
            m.reached = True
            names.update(m.tokens)
            m = m.owner

    for m in roots:
        reach(m)
    changed = True
    while changed:
        changed = False
        for m in members:
            if m.reached:
                continue
            # an override is called through its parent's interface: it is
            # live exactly when its own type is, whatever its name
            auto = m.name in ALWAYS or "override" in m.mods or "implicit" in m.mods
            owner_live = m.owner is None or m.owner.reached
            if owner_live and (m.owner is not None if auto else m.name in names):
                reach(m)
                changed = True
    return [m for m in members
            if not m.reached and (m.owner is None or m.owner.reached)]


def read_keep(repo):
    """Qualified member names of the keep file, each of which must be
    followed by a reason; '#' starts a comment line."""
    keep = set()
    with open(os.path.join(repo, KEEP_FILE), encoding="utf-8") as f:
        for no, line in enumerate(f, 1):
            line = line.strip()
            if not line or line.startswith("#"):
                continue
            name, _, reason = line.partition(" ")
            if not reason.strip():
                sys.exit(f"{KEEP_FILE}:{no}: {name} has no reason")
            keep.add(name)
    return keep


def main(args):
    check = "--check" in args
    rest = [a for a in args if a != "--check"]
    repo = rest[0] if rest else os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    dead, rel = unreached(repo), lambda p: os.path.relpath(p, repo)
    if check:
        keep = read_keep(repo)
        lost = [m for m in dead if m.qual() not in keep]
        stale = sorted(keep - {m.qual() for m in dead})
        for m in lost:
            print(f"{rel(m.path)}:{m.lo + 1}: {m.kind} {m.qual()} is reached by no "
                  f"root and not kept in {KEEP_FILE}")
        for name in stale:
            print(f"{KEEP_FILE}: {name} is kept but is not an unreached member")
        if lost or stale:
            sys.exit(1)
        print(f"reach check: ok ({len(keep)} kept members, "
              f"{sum(m.hi - m.start + 1 for m in dead)} lines)")
        return
    total = 0
    for m in dead:
        n = m.hi - m.start + 1
        total += n
        print(f"{rel(m.path)}:{m.lo + 1}\t{n}\t{m.kind} {m.qual()}")
    print(f"total\t{total} unreached lines")


if __name__ == "__main__":
    main(sys.argv[1:])
