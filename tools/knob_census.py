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
text sets nothing and is no override site.

Both reports resolve a use of a name to the defs it can call. A use is
resolved by its owner: a use qualified by a capitalized name (import renames
and `val X = pkg.Object` aliases resolved) reaches the defs of the object of
that name, an unqualified one the defs of its own file when one of the file's
defs of that name admits the call, else the defs of the objects the file
imports the name from. A resolved call then
reaches only the overloads whose parameter-count range (required parameters
to all parameters of the first list; no upper end for varargs or for a def
without a parameter list) admits its argument count; a method value (no
argument list) or a `_*` splat reaches every overload. A use the tool cannot
resolve (one made on a value or an expression, or an unqualified one whose
name the file neither defines nor imports) reaches every def of that name:
`--sites` lists it on an `unresolved:` line under the parameter and counts
it in neither total, so no site is dropped silently; `--operators` counts it
as a reference, so a used def is never reported.

`--operators` prints the public defs of src/main (not private, protected or
override, declared in a public object, class or trait body) that no use in
src/main or perfbench/src code reaches, then each with the spec files that
reach it. Comments and string text are blanked, so scaladoc is no reference,
and neither is an import line or a named argument. The entry points in
`OPERATOR_EXEMPT` are left out of the total. Stdlib only.
"""
import bisect, os, re, sys

HEAD = re.compile(r"\b(?:def\s+[\w$]+|case\s+class\s+\w+)\s*(?:\[[^\]]*\])?\s*\(")
DEF = re.compile(r"\b(def|case\s+class)\s+([\w$]+)\s*(?:\[[^\]]*\])?\s*\(")
OWNER = re.compile(r"\b(?:object|class|trait)\s+(\w+)")
IMPORT = re.compile(r"\bimport\s+[\w.]*?\b([A-Z]\w*)\s*\.\s*(?:\{([^}]*)\}|([\w$*]+))")
DEPTH = {"(": 1, "[": 1, "{": 1, ")": -1, "]": -1, "}": -1}
GROUPS = ("src/main", "perfbench/src", "src/test")
ANY = float("inf")


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


def owner_index(src):
    """A function from an offset to the innermost object/class/trait whose
    body encloses it (one pass over `src`)."""
    owners = {m.end(): m.group(1) for m in OWNER.finditer(src)}
    stack, depth, pending = [], 0, None
    marks, names = [0], [None]
    for i, ch in enumerate(src):
        if i in owners:
            pending = owners[i]
        if ch == "{":
            depth += 1
            if pending:
                stack.append((depth, pending))
                pending = None
        elif ch == "}":
            if stack and stack[-1][0] == depth:
                stack.pop()
            depth -= 1
        else:
            continue
        marks.append(i + 1)
        names.append(stack[-1][1] if stack else None)
    return lambda pos: names[bisect.bisect_right(marks, pos) - 1]


def skip_ws(src, i):
    while i < len(src) and src[i] in " \t\n":
        i += 1
    return i


def skip_type_args(src, i):
    """The offset after the `[...]` at `i` (and the blanks after it), or `i`."""
    i = skip_ws(src, i)
    if src[i:i + 1] != "[":
        return i
    depth = 0
    for j in range(i, len(src)):
        depth += {"[": 1, "]": -1}.get(src[j], 0)
        if depth == 0:
            return skip_ws(src, j + 1)
    return i


def def_arity(src, i):
    """(required, total) parameter counts of the first parameter list of the
    def whose name ends at `i`; (0, ANY) for a def without one, and no upper
    end for varargs."""
    j = skip_type_args(src, i)
    if src[j:j + 1] != "(":
        return 0, ANY
    params = [p for p in split_top(next(param_lists(src, j))) if p]
    if params and re.match(r"\s*implicit\b", params[0]):
        return 0, ANY
    plain = [re.split(r"=(?!>)", p, maxsplit=1)[0] for p in params]
    top = ANY if any(re.search(r"\*\s*$", p) for p in plain) else len(params)
    return sum(1 for p in params if not is_defaulted(p)), top


def call_arity(src, i):
    """The argument count of the use whose name ends at `i`: its first `(...)`
    list after optional type arguments, 1 for a `{...}` block argument, None
    for a method value (no argument list) or a `_*` splat."""
    j = skip_type_args(src, i)
    if src[j:j + 1] == "{":
        return 1
    if src[j:j + 1] != "(":
        return None
    args = [a for a in split_top(next(param_lists(src, j))) if a]
    return None if any(a.endswith("_*") for a in args) else len(args)


def admits(lo, hi, n):
    return n is None or lo <= n <= hi


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


def local_arities(src):
    """{call name: [(required, total)]} for every def and case class that
    `src` declares (an `apply` under its object's name)."""
    owner_at = owner_index(src)
    out = {}
    for m in re.finditer(r"\b(?:def|case\s+class)\s+([\w$]+)", src):
        name = m.group(1)
        if name == "apply":
            name = owner_at(m.start()) or name
        out.setdefault(name, []).append(def_arity(src, m.end()))
    return out


class Scope:
    """What a file's names resolve through: its import renames and object
    aliases, its imported names, and the defs it declares."""

    def __init__(self, rel, src):
        self.rel, self.local = rel, local_arities(src)
        self.aliases = {b: a for a, b in re.findall(r"\b(\w+)\s*=>\s*(\w+)\s*[,}]", src)}
        self.aliases.update(re.findall(r"\bval\s+([A-Z]\w*)\s*=\s*[\w.]*?\b(\w+)\s*$", src, re.M))
        self.imports = imported_names(src)

    def qualifier(self, src, start):
        """The owner name a use at `start` is qualified by: a name, "." for
        an expression (`f(x).g`, a chained `.g`), None if unqualified."""
        before = src[max(0, start - 80):start]
        m = re.search(r"(?<![\w$])(\w+)\s*\.\s*$", before)
        if m:
            q = self.aliases.get(m.group(1), m.group(1))
            return None if q == "this" else q
        return "." if re.search(r"\.\s*$", before) else None

    def resolve(self, ds, name, qual, n):
        """The defs of `ds` (each with .rel, .owner, .lo, .hi) that a use of
        `name` qualified by `qual` with `n` arguments reaches, and whether
        the use resolved (an unresolved one reaches every def of `ds`)."""
        fit = lambda cands: [d for d in cands if admits(d.lo, d.hi, n)]
        if qual and qual[0].isupper():
            # a capitalized qualifier names an object (ours, or a foreign
            # one that declares none of these)
            return fit([d for d in ds if qual in (d.owner, d.call)]), True
        if qual is None:
            # an unqualified use binds to its own file's definition, else
            # to an imported one
            if any(admits(lo, hi, n) for lo, hi in self.local.get(name, ())):
                return fit([d for d in ds if d.rel == self.rel]), True
            owners = self.imports.get(name, set()) | self.imports.get("_", set())
            cands = [d for d in ds if d.owner in owners]
            if cands:
                return fit(cands), True
        return ds, False


class Decl:
    def __init__(self, rel, pos, line, owner, name, lo, hi, public=True, extra=None):
        self.rel, self.pos, self.line, self.owner, self.name = rel, pos, line, owner, name
        self.call = owner if name == "apply" and owner else name
        self.lo, self.hi, self.public, self.extra = lo, hi, public, extra


def definitions(root):
    """One Decl per defaulted parameter of src/main, with `extra` =
    (is case class, list idx, param idx, param name, param text)."""
    out = []
    for rel in scala_files(root, "src/main"):
        src = strip(open(os.path.join(root, rel), encoding="utf-8").read())
        owner_at = owner_index(src)
        for m in DEF.finditer(src):
            kind, name = m.group(1), m.group(2)
            owner = owner_at(m.start())
            lo, hi = def_arity(src, m.start(2) + len(name))
            for li, plist in enumerate(param_lists(src, m.end() - 1)):
                for pi, p in enumerate(split_top(plist)):
                    if is_defaulted(p):
                        pname = re.match(r"\s*(?:(?:implicit|val|var|private|override)\s+)*([\w$]+)", p).group(1)
                        line = src.count("\n", 0, m.start()) + 1
                        out.append(Decl(rel, m.start(), line, owner, name, lo, hi,
                                        extra=(kind != "def", li, pi, pname, " ".join(p.split()))))
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
        by_call.setdefault(d.call, []).append(d)
    fields = {}
    for d in defs:
        if d.extra[0]:
            fields.setdefault(d.extra[3], []).append(d)
    for rel, (g, src) in files.items():
        scope = Scope(rel, src)
        starts = [0] + [i + 1 for i, ch in enumerate(src) if ch == "\n"]
        line_of = lambda i: bisect.bisect_right(starts, i)
        for call, ds in by_call.items():
            for m in re.finditer(r"(?<![\w$])" + re.escape(call) + r"\s*(?:\[[^\]]*\])?\s*\(", src):
                before = src[max(0, m.start() - 16):m.start()]
                if re.search(r"\b(def|class)\s+$", before):
                    continue
                qual = scope.qualifier(src, m.start())
                cands, resolved = scope.resolve(ds, call, qual, call_arity(src, m.start() + len(call)))
                for li, args in enumerate(param_lists(src, m.end() - 1)):
                    for d in cands:
                        _, dli, pi, pname, text = d.extra
                        how = dli == li and arg_override(args, pi, pname, default_text(text))
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
        _, li, pi, _, text = d.extra
        where = f"{d.owner}.{d.name}" if d.owner else d.name
        print(f"\n{d.rel}:{d.line}  {where}  [{li}:{pi}] {text}")
        for g in GROUPS:
            hits = [f"{s} ({how})" for gg, s, how in found[d] if gg == g]
            print(f"  {g}: " + (", ".join(hits) if hits else "-"))
        if unresolved[d]:
            print("  unresolved: " + ", ".join(unresolved[d]))


# Public entry points whose callers are not graft's own code: the streaming
# ones are called by deployments (no batch twin exists for them to be called
# through), and `SparkEntry.entry` by the driver that loads the jar.
OPERATOR_EXEMPT = ("StreamOps.availableNow", "StreamOps.decontaminateStream",
                   "StreamOps.sessionizeStream", "SparkEntry.entry")
# Entry points named by the JVM, not by code.
ENTRY_POINTS = ("main",)


def code_text(src):
    """Comments and the text of string literals blanked, except their quotes
    (so a literal still reads as an argument) and what an interpolation
    splices in (`${...}`, `$name`); newlines and offsets kept."""
    blank = lambda t: re.sub(r"[^\n]", " ", t)
    inert = lambda t: re.sub(r'[^\n"]', " ", t)

    def literal(m):
        t, out, last = m.group(0), "", 0
        for k in re.finditer(r"\$\{[^}\n]*\}|\$[A-Za-z_]\w*", t):
            out += inert(t[last:k.start()]) + t[k.start():k.end()]
            last = k.end()
        return out + inert(t[last:])
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


def declarations(rel, src):
    """A Decl for every `def` of `src`; `public` when it is not private,
    protected or override and sits directly in an object, class or trait
    body that is itself public (not in a method)."""
    bodies = template_bodies(src)
    owner_at = owner_index(src)
    defs = [(m.start(), m.group(1)) for m in re.finditer(r"\bdef\s+([\w$]+)", src)]
    out, stack, k = [], [], 0
    for i, ch in enumerate(src):
        while k < len(defs) and defs[k][0] == i:
            pos, name = defs[k]
            k += 1
            mods = src[max(src.rfind("\n", 0, pos), src.rfind("{", 0, pos), src.rfind(";", 0, pos)) + 1:pos]
            public = (bool(stack) and all(b in bodies and not bodies[b] for b in stack)
                      and not re.search(r"\b(?:private|protected|override)\b", mods)
                      and name not in ENTRY_POINTS)
            lo, hi = def_arity(src, src.index(name, pos + 3) + len(name))
            out.append(Decl(rel, pos, src.count("\n", 0, pos) + 1, owner_at(pos), name, lo, hi, public))
        if ch == "{":
            stack.append(i)
        elif ch == "}" and stack:
            stack.pop()
    return out


def operators(root):
    """[(file, line, Owner.name, spec files reaching it)] for each public def
    in src/main that no src/main or perfbench/src use reaches, and the same
    rows for the exempt ones."""
    texts = {}
    for g in GROUPS:
        for rel in scala_files(root, g):
            texts[rel] = (g, code_text(open(os.path.join(root, rel), encoding="utf-8").read()))
    by_name = {}
    for rel in scala_files(root, "src/main"):
        for d in declarations(rel, texts[rel][1]):
            by_name.setdefault(d.call, []).append(d)
    uses = {}
    for rel, (g, t) in texts.items():
        scope = Scope(rel, t)
        line_start = [0] + [i + 1 for i, ch in enumerate(t) if ch == "\n"]
        for m in re.finditer(r"(?<![\w$])([\w$]+)", t):
            ds = by_name.get(m.group(1))
            if not ds:
                continue
            start = line_start[bisect.bisect_right(line_start, m.start()) - 1]
            if (re.search(r"\b(?:def|object|class|trait|val|var)\s+$", t[max(0, m.start() - 16):m.start()])
                    or re.match(r"\s*import\b", t[start:m.start()])
                    or re.match(r"\s*=(?![=>])", t[m.end():m.end() + 3])):
                continue
            qual = scope.qualifier(t, m.start())
            reached, _ = scope.resolve(ds, m.group(1), qual, call_arity(t, m.end()))
            for d in reached:
                uses.setdefault(id(d), set()).add((g, rel))
    found, exempt = [], []
    for ds in by_name.values():
        for d in ds:
            hits = uses.get(id(d), set())
            if not d.public or any(g != "src/test" for g, _ in hits):
                continue
            where = f"{d.owner}.{d.name}" if d.owner else d.name
            row = (d.rel, d.line, where, sorted(r for _, r in hits))
            (exempt if where in OPERATOR_EXEMPT else found).append(row)
    return sorted(found), sorted(exempt)


def print_operators(root):
    found, exempt = operators(root)
    print(f"public defs not referenced outside src/test {len(found)}")
    for rel, line, where, tests in found:
        print(f"{rel}:{line}  {where}  src/test: " + (", ".join(sorted({os.path.basename(t) for t in tests})) or "-"))
    print("exempt: " + ", ".join(where for _, _, where, _ in exempt))

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
