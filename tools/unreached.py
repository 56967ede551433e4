#!/usr/bin/env python3
"""Unreached-code audit over src/main (dev tool only).

Lists every member of a top-level Scala object (and every top-level
definition) in src/main that no other line of comment-stripped
src/main or perfbench/src/main (the benchmark's engine calls) reaches:
- a member of `object O` counts as reached by another use of its name
  in O's own file, by an `O.member` reference in another such file,
  or by a bare use in a file that imports `O._` / `O.{member}`;
- a top-level class, trait or object counts as reached by any use of
  its name outside its own definition line.
`override`, `main`, `apply` and objects with a `main` are skipped (the
JVM, Spark or the companion call syntax reach them). String literals
count only through their `$name` / `${...}` interpolations. Each hit carries the number of
src/test files that name it, so a def only specs call reads specs=N.

Usage: python3 tools/unreached.py [repoRoot]
"""
import os, re, sys

root = sys.argv[1] if len(sys.argv) > 1 else "."
main_dir = os.path.join(root, "src/main/scala")
test_dir = os.path.join(root, "src/test/scala")


def literal(lit):
    """A string literal reduced to its interpolations, newlines kept."""
    keep = re.compile(r"\$\{[^}]*\}|\$[A-Za-z_]\w*")
    out, i = [], 0
    for m in keep.finditer(lit):
        out.append(re.sub(r"[^\n]", " ", lit[i:m.start()]) + m.group())
        i = m.end()
    return "".join(out) + re.sub(r"[^\n]", " ", lit[i:])


def strip(src):
    """Blank out comments and the text of string literals; keep line structure."""
    out, i, n = [], 0, len(src)
    while i < n:
        if src.startswith('"""', i):
            j = src.find('"""', i + 3)
            j = n if j < 0 else j + 3
            while j < n and src[j] == '"':
                j += 1
            out.append(literal(src[i:j])); i = j
        elif src[i] == '"':
            j = i + 1
            while j < n and src[j] != '"' and src[j] != "\n":
                j += 2 if src[j] == "\\" else 1
            out.append(literal(src[i:j + 1])); i = j + 1
        elif src[i] == "'" and i + 2 < n and (src[i + 2] == "'" or src[i + 1] == "\\"):
            j = src.find("'", i + 2) + 1
            out.append(src[i:j]); i = j
        elif src.startswith("//", i):
            j = src.find("\n", i)
            i = n if j < 0 else j
        elif src.startswith("/*", i):
            j, depth = i + 2, 1
            while j < n and depth:
                if src.startswith("/*", j): depth += 1; j += 2
                elif src.startswith("*/", j): depth -= 1; j += 2
                else: j += 1
            out.append(re.sub(r"[^\n]", " ", src[i:j])); i = j
        else:
            out.append(src[i]); i += 1
    return "".join(out)


def scala_files(d):
    for dp, _, fs in os.walk(d):
        for f in sorted(fs):
            if f.endswith(".scala"):
                yield os.path.join(dp, f)


DEF = re.compile(
    r"^(?P<ind> *)(?P<mods>(?:(?:private|protected)(?:\[\w+\])?\s+|final\s+|"
    r"implicit\s+|lazy\s+|case\s+|sealed\s+|abstract\s+|override\s+)*)"
    r"(?P<kw>def|val|var|class|object|trait|type)\s+(?P<name>[A-Za-z_]\w*)")

main = {p: strip(open(p).read()) for p in scala_files(main_dir)}
# the benchmark calls the engine's public API: what it calls is reached
bench = {p: strip(open(p).read())
         for p in scala_files(os.path.join(root, "perfbench/src/main/scala"))}
callers = {**main, **bench}
tests = {p: open(p).read() for p in scala_files(test_dir)}


def words(text, name):
    return len(re.findall(r"(?<!\w)" + re.escape(name) + r"(?!\w)", text))


def bare(text, name):
    """Uses of `name` that are not a member access on some other value."""
    return len(re.findall(r"(?<![\w.])(?<!\.\s)" + re.escape(name) + r"(?!\w)", text))


hits = []
for path, text in main.items():
    owner = None
    lines = text.split("\n")
    for ln, line in enumerate(lines, 1):
        m = DEF.match(line)
        if not m:
            continue
        ind, mods, kw, name = len(m["ind"]), m["mods"], m["kw"], m["name"]
        if ind == 0:
            owner = name if kw == "object" else None
            others = sum(words(t, name) for p, t in callers.items() if p != path)
            entry = re.search(r"^  def main\(", text[text.find(line):].split("\n}")[0], re.M)
            if others + words(text, name) - 1 == 0 and not entry:
                hits.append((path, ln, name))
            continue
        if ind != 2 or owner is None or "override" in mods or name in ("main", "apply"):
            continue
        own = bare(text, name) + words(text, f"{owner}.{name}") - sum(
            1 for l in lines if (d := DEF.match(l)) and d["name"] == name and len(d["ind"]) == 2)
        reached = own > 0
        if not reached and not mods.startswith("private "):
            qual = re.compile(r"(?<!\w)" + owner + r"\s*\.\s*" + name + r"(?!\w)")
            imp = re.compile(r"import\s+[\w.]*\b" + owner + r"\.(?:_|\{[^}]*\b" + name + r"\b[^}]*\}|" + name + r"\b)")
            reached = any(
                qual.search(t) or (imp.search(t) and bare(t, name))
                for p, t in callers.items() if p != path)
        if not reached:
            hits.append((path, ln, f"{owner}.{name}"))

for path, ln, name in hits:
    specs = sum(1 for t in tests.values() if words(t, name.split(".")[-1]))
    print(f"{os.path.relpath(path, main_dir)}:{ln} {name} specs={specs}")
print(f"{len(hits)} unreached", file=sys.stderr)
