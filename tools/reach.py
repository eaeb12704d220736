#!/usr/bin/env python3
"""Reachability scan of the engine sources; prints two lists:
  1. top-level src/main definitions outside graft.queries, other than `def
     main` entry points, that no code outside src/test names;
  2. declared queries whose bodies, with the query-object helpers they call,
     name no engine definition besides Tables and Fns.
Comments and string literals are blanked before the word-boundary scan, so
a name in a doc comment or in oracle SQL is no reference.
Usage: python3 tools/reach.py [repo_root]
"""
import glob, os, re, sys

ROOT = sys.argv[1] if len(sys.argv) > 1 else os.path.join(os.path.dirname(__file__), "..")
MAIN = os.path.join(ROOT, "src/main/scala")
TOP = re.compile(r"^(?:(?:final|sealed|abstract|case|private(?:\[\w+\])?)\s+)*(?:object|class|trait)\s+(\w+)", re.M)
MEMBER = re.compile(r"^  (?:(?:private(?:\[\w+\])?|final|lazy|case|implicit)\s+)*(?:def|val|class|object)\s+(\w+)", re.M)
HELPER = re.compile(r"^  (?:(?:private|lazy)\s+)*(?:def|val)\s+(\w+)", re.M)
IMPORT = re.compile(r"^\s*import\s+graft\.[\w.]*?(\w+)\.(\{[^}]*\}|\w+)\s*$", re.M)
CHAR = re.compile(r"'(\\.|[^\\'\n])'")


def strip(src):
    """Blank comments and literals; `${...}` splices of interpolated strings stay."""
    out, i, n = list(src), 0, len(src)
    def blank(a, b):
        out[a:b] = [c if c == "\n" else " " for c in src[a:b]]
    while i < n:
        if src.startswith("//", i):
            j = src.find("\n", i) % (n + 1); blank(i, j); i = j
        elif src.startswith("/*", i):
            d, j = 1, i + 2
            while j < n and d:
                d += src.startswith("/*", j) - src.startswith("*/", j)
                j += 2 if src.startswith(("/*", "*/"), j) else 1
            blank(i, j); i = j
        elif CHAR.match(src, i):
            j = CHAR.match(src, i).end(); blank(i, j); i = j
        elif src[i] == '"':
            q = '"""' if src.startswith('"""', i) else '"'
            interp, j, lit = src[i - 1].isalnum() or src[i - 1] == "_", i + len(q), i
            while j < n and not src.startswith(q, j):
                if q == '"' and src[j] == "\\": j += 2
                elif interp and src.startswith("${", j):
                    blank(lit, j + 2); d, j = 1, j + 2
                    while j < n and d: d += (src[j] == "{") - (src[j] == "}"); j += 1
                    lit = j - 1
                else: j += 1
            while q == '"""' and src.startswith('"', j + len(q)): j += 1
            blank(lit, j + len(q)); i = j + len(q)
        else:
            i += 1
    return "".join(out)


files = {p: strip(open(p).read()) for p in
         sorted(glob.glob(f"{MAIN}/**/*.scala", recursive=True) +
                glob.glob(f"{ROOT}/perfbench/src/**/*.scala", recursive=True))}
queries = [p for p in files if "/graft/queries/" in p]
defs = {}  # name -> [(file, start, end)]; a companion pair shares one name
for p, s in files.items():
    if p.startswith(MAIN) and p not in queries:
        ms = list(TOP.finditer(s))
        for m, nxt in zip(ms, ms[1:] + [None]):
            defs.setdefault(m.group(1), []).append((p, m.start(), nxt.start() if nxt else len(s)))

print("== src/main definitions that nothing outside src/test names")
for name, spans in sorted(defs.items()):
    def elsewhere(p, s):  # p's text with name's own definition blanked
        for q, a, b in spans:
            if q == p: s = s[:a] + " " * (b - a) + s[b:]
        return s
    if any("def main(" in files[p][a:b] for p, a, b in spans): continue
    if not any(re.search(rf"\b{name}\b", elsewhere(p, s)) for p, s in files.items()):
        print(f"  {name}  ({os.path.relpath(spans[0][0], MAIN)})")

members = {n: {m.group(1) for p, a, b in spans for m in MEMBER.finditer(files[p][a:b])}
           for n, spans in defs.items()}
engine = set(defs) - {"Tables", "Fns"}
found = []
for p in queries:
    s, raw, alias, helpers = files[p], open(p).read(), {}, {}
    for m in IMPORT.finditer(s):  # imported members count as their object
        obj, sel = m.groups()
        if obj in defs:
            for w in members[obj] if sel == "_" else re.findall(r"\w+", sel):
                alias.setdefault(w, obj)
    for m in HELPER.finditer(s):  # a helper runs to the next member-level line
        end = re.compile(r"^ {0,2}[^\s)}.]", re.M).search(s, m.end())
        helpers[m.group(1)] = s[m.start():end.start() if end else len(s)]
    for m in re.finditer(r"\bEntry\(", s):
        name = re.match(r'\s*"(\w+)"', raw[m.end():])
        if not name: continue  # the case-class declaration itself
        d, j = 1, m.end()
        while d: d += (s[j] == "(") - (s[j] == ")"); j += 1
        seen, todo, words = set(), [s[m.end():j]], set()
        while todo:
            for w in set(re.findall(r"[A-Za-z_]\w*", todo.pop())) - seen:
                seen.add(w); words.add(alias.get(w, w))
                if w in helpers: todo.append(helpers[w])
        if not words & engine: found.append(name.group(1))
print("== declared queries that reach no engine definition besides Tables and Fns")
print("".join(f"  {q}\n" for q in sorted(found, key=lambda q: int(q[1:].split("_")[0]))), end="")
