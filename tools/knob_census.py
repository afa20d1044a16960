#!/usr/bin/env python3
"""Count the options of the main tree: every parameter with a default value
in a `def` or `case class` parameter list under src/main (a defaulted
`case class` field is a config field).

    python3 tools/knob_census.py [ROOT]           # ROOT defaults to the repo root
    python3 tools/knob_census.py --sites [ROOT]
    python3 tools/knob_census.py --operators [ROOT]

The first form prints the total, then the count per file. `--sites` prints
every defaulted parameter (with its [parameter list:position]) and each site
that overrides it, grouped into src/main, perfbench/src and src/test: a call
that passes the parameter by name or by position, or a `.copy(field = ...)`
of a case class that has it. An argument whose text is the default's own
text sets nothing and is no override site. A call is matched by the name it is made
through (an `apply` by its object's name) and counts only where it resolves
to the defining object: a call qualified by a capitalized name (import
renames and `val X = pkg.Object` aliases resolved) counts for the object of
that name, an unqualified call for its own file's definition when it has
one, else for the objects the file imports the name from. Any other
matching call (one made on a value or an expression, or an unqualified one
whose name the file neither defines nor imports) is listed on an
`unresolved:` line under the parameter and enters none of the totals, so no
site is dropped silently.

`--operators` prints the public defs of src/main (not private, protected or
override, declared in a public object, class or trait body) whose name no
src/main or perfbench/src code uses outside a declaration, then each with
the spec files that name it. It is a name scan: comments and string text
are blanked, so scaladoc is no reference, but an overload that calls its
sibling reads as referenced. The streaming entry points in
`OPERATOR_EXEMPT` are left out of the total. Stdlib only.
"""
import bisect, os, re, sys

HEAD = re.compile(r"\b(?:def\s+[\w$]+|case\s+class\s+\w+)\s*(?:\[[^\]]*\])?\s*\(")
DEF = re.compile(r"\b(def|case\s+class)\s+([\w$]+)\s*(?:\[[^\]]*\])?\s*\(")
OWNER = re.compile(r"\b(?:object|class|trait)\s+(\w+)")
IMPORT = re.compile(r"\bimport\s+[\w.]*?\b([A-Z]\w*)\s*\.\s*(?:\{([^}]*)\}|([\w$*]+))")
DEPTH = {"(": 1, "[": 1, "{": 1, ")": -1, "]": -1, "}": -1}
GROUPS = ("src/main", "perfbench/src", "src/test")


def param_lists(src, i):
    """Yield the text of each consecutive `(...)` list starting at `i`."""
    while i < len(src) and src[i] == "(":
        depth, j = 0, i
        while j < len(src):
            depth += {"(": 1, ")": -1}.get(src[j], 0)
            if depth == 0:
                break
            j += 1
        yield src[i + 1:j]
        i = j + 1
        while i < len(src) and src[i] in " \t\n":
            i += 1


def split_top(plist):
    depth, params, cur = 0, [], ""
    for ch in plist + ",":
        depth += DEPTH.get(ch, 0)
        if ch == "," and depth == 0:
            params.append(cur.strip())
            cur = ""
        else:
            cur += ch
    return params


def is_defaulted(p):
    return re.search(r"^[^=]*:[^=]*=(?!>)", p) is not None


def defaulted(plist):
    return sum(1 for p in split_top(plist) if is_defaulted(p))


def strip(src):
    """Comments blanked out and the brackets, commas and `=` of string
    literals too (so neither parses as code); newlines and offsets kept."""
    blank = lambda m: re.sub(r"[^\n]", " ", m.group(0))
    inert = lambda m: re.sub(r"[()\[\]{},=]", " ", m.group(0))
    src = re.sub(r"/\*.*?\*/", blank, src, flags=re.S)
    src = re.sub(r'"""(?:.|\n)*?"""', inert, src)
    src = re.sub(r'"(?:\\.|[^"\\\n])*"', inert, src)
    return re.sub(r"//[^\n]*", blank, src)


def count_file(path):
    src = open(path, encoding="utf-8").read()
    src = re.sub(r"/\*.*?\*/", "", src, flags=re.S)
    src = re.sub(r'"(?:\\.|[^"\\\n])*"', '""', re.sub(r"//[^\n]*", "", src))
    return sum(defaulted(p) for m in HEAD.finditer(src) for p in param_lists(src, m.end() - 1))


def scala_files(root, sub):
    for d, _, files in os.walk(os.path.join(root, sub)):
        for f in sorted(files):
            if f.endswith(".scala"):
                yield os.path.relpath(os.path.join(d, f), root)


def owner_at(src, pos):
    """The innermost object/class/trait whose body encloses `pos`."""
    stack, depth, pending = [], 0, None
    owners = {m.end(): m.group(1) for m in OWNER.finditer(src)}
    for i in range(pos):
        if i in owners:
            pending = owners[i]
        ch = src[i]
        if ch == "{":
            depth += 1
            if pending:
                stack.append((depth, pending))
                pending = None
        elif ch == "}":
            if stack and stack[-1][0] == depth:
                stack.pop()
            depth -= 1
    return stack[-1][1] if stack else None


def definitions(root):
    """(file, line, owner, name, call name, is case class, list idx, pos, param, text)."""
    out = []
    for rel in scala_files(root, "src/main"):
        src = strip(open(os.path.join(root, rel), encoding="utf-8").read())
        for m in DEF.finditer(src):
            kind, name = m.group(1), m.group(2)
            owner = owner_at(src, m.start())
            call = owner if name == "apply" and owner else name
            for li, plist in enumerate(param_lists(src, m.end() - 1)):
                for pi, p in enumerate(split_top(plist)):
                    if is_defaulted(p):
                        pname = re.match(r"\s*(?:(?:implicit|val|var|private|override)\s+)*([\w$]+)", p).group(1)
                        line = src.count("\n", 0, m.start()) + 1
                        out.append((rel, line, owner, name, call, kind != "def", li, pi, pname,
                                    " ".join(p.split())))
    return out


def default_text(p):
    """The default expression of a defaulted parameter, whitespace-normalized."""
    return " ".join(re.match(r"^[^=]*:[^=]*=(?!>)(.*)$", p, re.S).group(1).split())


def arg_override(args, pi, pname, default=None):
    """'named' or 'positional' if this argument list sets parameter `pi`/`pname`
    to anything but its own `default` text (passing the default is no override)."""
    parts = [a for a in split_top(args) if a]
    positional = []
    for a in parts:
        n = re.match(r"([\w$]+)\s*=(?![=>])(.*)$", a, re.S)
        if not n:
            positional.append(a)
        elif n.group(1) == pname:
            return None if " ".join(n.group(2).split()) == default else "named"
    if len(positional) > pi and not any(a.endswith("_*") for a in parts):
        return None if " ".join(positional[pi].split()) == default else "positional"
    return None


def imported_names(src):
    """{name: {object}} for every `import ...Object.name` (braces and
    renames included, a wildcard maps to the key "_")."""
    out = {}
    for m in IMPORT.finditer(src):
        for sel in (m.group(2) or m.group(3)).split(","):
            name = re.split(r"\s*=>\s*", sel.strip())[-1]
            if name:
                out.setdefault("_" if name == "*" else name, set()).add(m.group(1))
    return out


def sites(root):
    defs = definitions(root)
    files = {}
    for g in GROUPS:
        for rel in scala_files(root, g):
            files[rel] = (g, strip(open(os.path.join(root, rel), encoding="utf-8").read()))
    found = {d: [] for d in defs}
    unresolved = {d: [] for d in defs}
    by_call = {}
    for d in defs:
        by_call.setdefault(d[4], []).append(d)
    fields = {}
    for d in defs:
        if d[5]:
            fields.setdefault(d[8], []).append(d)
    for rel, (g, src) in files.items():
        aliases = {b: a for a, b in re.findall(r"\b(\w+)\s*=>\s*(\w+)\s*[,}]", src)}
        aliases.update(re.findall(r"\bval\s+([A-Z]\w*)\s*=\s*[\w.]*?\b(\w+)\s*$", src, re.M))
        imports = imported_names(src)
        starts = [0] + [i + 1 for i, ch in enumerate(src) if ch == "\n"]
        line_of = lambda i: bisect.bisect_right(starts, i)
        for call, ds in by_call.items():
            local = [d for d in ds if d[0] == rel]
            for m in re.finditer(r"(?<![\w$])((\w+)\s*\.\s*)?" + re.escape(call) + r"\s*(?:\[[^\]]*\])?\s*\(", src):
                before = src[max(0, m.start() - 16):m.start()]
                if re.search(r"\b(def|class)\s+$", before):
                    continue
                qual = aliases.get(m.group(2), m.group(2))
                if qual is None and re.search(r"\.\s*$", src[max(0, m.start() - 80):m.start()]):
                    qual = "."  # a call on an expression: `f(x).g(`, a chained `.g(`
                if qual == "this":
                    qual = None
                # a capitalized qualifier names an object (ours, or a foreign
                # class that defines none of these); an unqualified call binds
                # to its own file's definition, else to an imported one
                if qual and qual[0].isupper():
                    cands = [d for d in ds if qual in (d[2], d[4])]
                elif qual is None and local:
                    cands = local
                elif qual is None:
                    cands = [d for d in ds if d[2] in imports.get(call, set()) | imports.get("_", set())]
                else:
                    cands = []
                resolved = bool(cands) or (qual and qual[0].isupper())
                for li, args in enumerate(param_lists(src, m.end() - 1)):
                    for d in cands if resolved else ds:
                        how = d[6] == li and arg_override(args, d[7], d[8], default_text(d[9]))
                        if how and resolved:
                            found[d].append((g, f"{rel}:{line_of(m.start())}", how))
                        elif how:
                            unresolved[d].append(f"{rel}:{line_of(m.start())} ({how})")
        for m in re.finditer(r"\.\s*copy\s*\(", src):
            for args in param_lists(src, m.end() - 1):
                for a in split_top(args):
                    n = re.match(r"([\w$]+)\s*=(?![=>])", a)
                    for d in fields.get(n.group(1), []) if n else []:
                        found[d].append((g, f"{rel}:{line_of(m.start())}", "copy"))
                break
    return defs, found, unresolved


def print_sites(root):
    defs, found, unresolved = sites(root)
    outside = sum(1 for d in defs if not any(g != "src/test" for g, _, _ in found[d]))
    nowhere = sum(1 for d in defs if not found[d])
    print(f"total {len(defs)}")
    print(f"not set outside src/test {outside}")
    print(f"not set anywhere {nowhere}")
    for d in defs:
        rel, line, owner, name, _, _, li, pi, pname, text = d
        where = f"{owner}.{name}" if owner else name
        print(f"\n{rel}:{line}  {where}  [{li}:{pi}] {text}")
        for g in GROUPS:
            hits = [f"{s} ({how})" for gg, s, how in found[d] if gg == g]
            print(f"  {g}: " + (", ".join(hits) if hits else "-"))
        if unresolved[d]:
            print("  unresolved: " + ", ".join(unresolved[d]))


# Public streaming entry points whose callers are deployments, not graft's
# own mains: no batch twin exists for them to be called through.
OPERATOR_EXEMPT = ("StreamOps.availableNow", "StreamOps.decontaminateStream",
                   "StreamOps.sessionizeStream")
# Entry points named by the JVM, not by code.
ENTRY_POINTS = ("main",)


def code_text(src):
    """Comments and the text of string literals blanked, except what an
    interpolation splices in (`${...}`, `$name`); newlines and offsets kept."""
    blank = lambda t: re.sub(r"[^\n]", " ", t)

    def literal(m):
        t, out, last = m.group(0), "", 0
        for k in re.finditer(r"\$\{[^}\n]*\}|\$[A-Za-z_]\w*", t):
            out += blank(t[last:k.start()]) + t[k.start():k.end()]
            last = k.end()
        return out + blank(t[last:])
    src = re.sub(r"/\*.*?\*/", lambda m: blank(m.group(0)), src, flags=re.S)
    src = re.sub(r'"""(?:.|\n)*?"""|"(?:\\.|[^"\\\n])*"', literal, src)
    return re.sub(r"//[^\n]*", lambda m: blank(m.group(0)), src)


def template_bodies(src):
    """{offset of each `{` that opens an object, class or trait body: True if
    that declaration is private or protected}. A `{` opens one when the text
    back to the start of its statement declares a type and is no `new`."""
    out = {}
    for i, ch in enumerate(src):
        if ch != "{":
            continue
        depth, j = 0, i - 1
        while j >= 0:
            c = src[j]
            if c in ")]":
                depth += 1
            elif c in "([":
                if depth == 0:
                    break
                depth -= 1
            elif depth == 0 and (c in "{};" or (c == "=" and src[j + 1] not in "=>" and src[j - 1] not in "=!<>")):
                break
            j -= 1
        head = src[j + 1:i]
        if re.search(r"\b(?:object|class|trait)\s+\w+", head) and not re.search(r"\bnew\b", head):
            out[i] = bool(re.search(r"\b(?:private|protected)\b", head))
    return out


def public_members(rel, src):
    """(line, owner, name) of each public, non-override `def` declared directly
    in an object, class or trait body that is itself public, not in a method."""
    bodies = template_bodies(src)
    defs = [(m.start(), m.group(1)) for m in re.finditer(r"\bdef\s+([\w$]+)", src)]
    out, stack, k = [], [], 0
    for i, ch in enumerate(src):
        while k < len(defs) and defs[k][0] == i:
            pos, name = defs[k]
            k += 1
            mods = src[max(src.rfind("\n", 0, pos), src.rfind("{", 0, pos), src.rfind(";", 0, pos)) + 1:pos]
            if not stack or not all(b in bodies and not bodies[b] for b in stack):
                continue
            if re.search(r"\b(?:private|protected|override)\b", mods) or name in ENTRY_POINTS:
                continue
            out.append((src.count("\n", 0, pos) + 1, owner_at(src, pos), name))
        if ch == "{":
            stack.append(i)
        elif ch == "}" and stack:
            stack.pop()
    return out


def operators(root):
    """[(file, line, Owner.name, spec files naming it)] for each public def in
    src/main whose name no src/main or perfbench/src code uses outside a
    declaration (an `apply` counts as used where its object's name is), and
    the same rows for the exempt ones; scaladoc, comments and string text are
    no uses."""
    texts, used = {}, {}
    for g in GROUPS:
        for rel in scala_files(root, g):
            t = code_text(open(os.path.join(root, rel), encoding="utf-8").read())
            texts[rel] = t
            for m in re.finditer(r"(?<![\w$])([\w$]+)", t):
                if not re.search(r"\b(?:def|object|class|trait)\s+$", t[max(0, m.start() - 16):m.start()]):
                    used.setdefault(m.group(1), set()).add((g, rel))
    found, exempt = [], []
    for rel in scala_files(root, "src/main"):
        for line, owner, name in public_members(rel, texts[rel]):
            uses = used.get(owner if name == "apply" and owner else name, set())
            if any(g != "src/test" for g, _ in uses):
                continue
            where = f"{owner}.{name}" if owner else name
            row = (rel, line, where, sorted(r for _, r in uses))
            (exempt if where in OPERATOR_EXEMPT else found).append(row)
    return found, exempt


def print_operators(root):
    found, exempt = operators(root)
    print(f"public defs not referenced outside src/test {len(found)}")
    for rel, line, where, tests in found:
        print(f"{rel}:{line}  {where}  src/test: " + (", ".join(os.path.basename(t) for t in tests) or "-"))
    print("exempt: " + ", ".join(OPERATOR_EXEMPT))

if __name__ == "__main__":
    args = sys.argv[1:]
    if args[:1] in (["--sites"], ["--operators"]):
        report = print_sites if args[0] == "--sites" else print_operators
        report(args[1] if len(args) > 1 else os.path.join(os.path.dirname(__file__), ".."))
        sys.exit(0)
    root = args[0] if args else os.path.join(os.path.dirname(__file__), "..")
    counts = {}
    for d, _, files in os.walk(os.path.join(root, "src", "main")):
        for f in files:
            if f.endswith(".scala"):
                counts[os.path.relpath(os.path.join(d, f), root)] = count_file(os.path.join(d, f))
    print(f"total {sum(counts.values())}")
    for f, n in sorted(counts.items(), key=lambda kv: (-kv[1], kv[0])):
        if n:
            print(f"{n:5d}  {f}")
