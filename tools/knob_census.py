#!/usr/bin/env python3
"""Count the options of the main tree: every parameter with a default value
in a `def` or `case class` parameter list under src/main (a defaulted
`case class` field is a config field).

    python3 tools/knob_census.py [ROOT]           # ROOT defaults to the repo root
    python3 tools/knob_census.py --sites [ROOT]
    python3 tools/knob_census.py --operators [ROOT]

The first form prints the total, then the count per file, then the
`option reads`: each environment or system-property read under src/main
(`sys.env`, `sys.props`, `System.getenv`, `System.getProperty`) except the
platform facts in `PLATFORM_FACTS`. `--sites` prints
every defaulted parameter (with its [parameter list:position]) and each site
that overrides it, grouped into src/main, perfbench/src and src/test: a call
that passes the parameter by name or by position, or a `.copy(field = ...)`
of a case class that has it. An argument whose text is the default's own
text sets nothing and is no override site.

Both reports resolve a use of a name to the defs it can call. A use is
resolved by its owner: a use qualified by a capitalized name (import renames
and `val X = pkg.Object` aliases resolved) reaches the defs of the object of
that name, an unqualified one the defs of its own file when one of the file's
defs of that name admits the call, else, when the file binds the name as a
`val`, `var` or parameter, no other object's def, else the defs of the
objects the file imports the name from. A resolved call then
reaches only the overloads whose parameter-count range (required parameters
to all parameters of the first list; no upper end for varargs or for a def
without a parameter list) admits its argument count; a method value (no
argument list) or a `_*` splat reaches every overload. A use on a value
(a lowercase receiver: `spark.read`) reaches no object's def, and a use on
an expression without an argument list (`f(x).write.mode(...)`) only the
defs callable without arguments; each def records whether the body it sits
in is an object's, so a class and its companion object can share a name.
Any other use the tool cannot resolve (an unqualified one whose name the
file neither defines, binds nor imports) reaches every def of that name:
`--sites` lists unresolved uses on an `unresolved:` line under the parameter
and counts them in neither total, so no site is dropped silently;
`--operators` counts them as references, so a used def is never reported.

`--operators` prints the defs of src/main that no use in src/main or
perfbench/src code reaches, then each with the spec files that reach it:
the public and `private[graft]` ones (not private, protected or override,
declared in an object, class or trait body that is itself public or
`private[graft]`), and the SQL functions registered by name
(`FunctionIdentifier("...")`) that no `call_function("name", ...)` or
`name(` in src/main or perfbench/src string text calls outside a def of
the first kind. Comments and string text are blanked for the defs, so
scaladoc is no reference, and neither is an import line or a named
argument. The defs in `OPERATOR_EXEMPT` are left out of the total, each
with its reason; `stale exemptions` counts the entries that no longer
name a spec-only def. Stdlib only.
"""
import bisect, os, re, sys

HEAD = re.compile(r"\b(?:def\s+[\w$]+|case\s+class\s+\w+)\s*(?:\[[^\]]*\])?\s*\(")
DEF = re.compile(r"\b(def|case\s+class)\s+([\w$]+)\s*(?:\[[^\]]*\])?\s*\(")
OWNER = re.compile(r"\b(object|class|trait)\s+(\w+)")
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


def owner_index(src, kind=False):
    """A function from an offset to the name of the innermost object, class
    or trait whose body encloses it (one pass over `src`); with `kind`, to
    (name, whether that body is an object's)."""
    owners = {m.end(): (m.group(2), m.group(1) == "object") for m in OWNER.finditer(src)}
    stack, depth, pending = [], 0, None
    marks, names = [0], [(None, False)]
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
        names.append(stack[-1][1] if stack else (None, False))
    at = lambda pos: names[bisect.bisect_right(marks, pos) - 1]
    return at if kind else lambda pos: at(pos)[0]


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
        self.bound = set(re.findall(r"\b(?:val|var)\s+([\w$]+)", src))
        self.bound.update(re.findall(r"[(,]\s*(?:(?:implicit|val|var)\s+)?([\w$]+)\s*:(?!:)", src))
        self.bound.update(re.findall(r"([\w$]+)\s*=>", src))

    def qualifier(self, src, start):
        """The owner name a use at `start` is qualified by: a name, "." for
        an expression (`f(x).g`, a chained `.g`), None if unqualified."""
        before = src[max(0, start - 80):start]
        m = re.search(r"(?<![\w$])(\w+)\s*\.\s*$", before)
        if m:
            q = self.aliases.get(m.group(1), m.group(1))
            return None if q == "this" else q
        return "." if re.search(r"\.\s*$", before) else None

    def resolve(self, ds, name, qual, n, bare=False):
        """The defs of `ds` (each with .rel, .owner, .obj, .lo, .hi) that a
        use of `name` qualified by `qual` with `n` arguments (`bare`: no
        argument list) reaches, and whether the use resolved."""
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
            if name in self.bound:
                # a value the file binds shadows other objects' defs
                return fit([d for d in ds if d.rel == self.rel or not d.obj]), True
            owners = self.imports.get(name, set()) | self.imports.get("_", set())
            cands = [d for d in ds if d.owner in owners]
            if cands:
                return fit(cands), True
            return ds, False
        # a use on a value (`spark.read`) reaches no object's def, and one on
        # an expression without an argument list (`f(x).write.mode(...)`)
        # only the defs callable without arguments
        if qual != ".":
            ds = [d for d in ds if not d.obj]
        return [d for d in ds if d.lo == 0] if bare else ds, False


class Decl:
    def __init__(self, rel, pos, line, owner, name, lo, hi, public=True, extra=None, obj=False):
        self.rel, self.pos, self.line, self.owner, self.name = rel, pos, line, owner, name
        self.call = owner if name == "apply" and owner else name
        self.lo, self.hi, self.public, self.extra, self.obj = lo, hi, public, extra, obj


def definitions(root):
    """One Decl per defaulted parameter of src/main, with `extra` =
    (is case class, list idx, param idx, param name, param text)."""
    out = []
    for rel in scala_files(root, "src/main"):
        src = strip(open(os.path.join(root, rel), encoding="utf-8").read())
        owner_at = owner_index(src, kind=True)
        for m in DEF.finditer(src):
            kind, name = m.group(1), m.group(2)
            owner, obj = owner_at(m.start())
            lo, hi = def_arity(src, m.start(2) + len(name))
            for li, plist in enumerate(param_lists(src, m.end() - 1)):
                for pi, p in enumerate(split_top(plist)):
                    if is_defaulted(p):
                        pname = re.match(r"\s*(?:(?:implicit|val|var|private|override)\s+)*([\w$]+)", p).group(1)
                        line = src.count("\n", 0, m.start()) + 1
                        out.append(Decl(rel, m.start(), line, owner, name, lo, hi, obj=obj,
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


# Defs whose callers are not graft's own code, each with its reason.
OPERATOR_EXEMPT = {
    # entry points
    "StreamOps.availableNow": "the streaming driver deployments call; no batch twin calls it",
    "StreamOps.decontaminateStream": "a streaming entry point deployments call",
    "StreamOps.sessionizeStream": "a streaming entry point deployments call",
    "SparkEntry.entry": "called by the driver that loads the jar",
    # the reference pipeline's own I/O (SURVEY maps it to test.py)
    "Xlsx.read": "reads the reference's Excel forms export and metadata state (test.py:101,113)",
    "Xlsx.write": "writes the reference's Excel metadata state (test.py:197-201)",
    "BinaryCorpus.scan": "the reference's recursive image scan (trial-img-processor.py:59-62)",
    "BinaryCorpus.withPathKeys": "the reference's path-to-key split (test.py:172-173)",
    "IdempotentBlobSink.upload": "the reference's versioned upload (test.py:62-93)",
    # corpus ingest formats; the query fixtures arrive as parquet
    "CsvCorpus.read": "CSV/TSV corpus ingest",
    "CsvCorpus.readWithCorrupt": "CSV/TSV corpus ingest with corrupt-row quarantine",
    "CsvCorpus.write": "CSV corpus export",
    "JsonlCorpus.read": "JSONL corpus ingest",
    "JsonlCorpus.readWithCorrupt": "JSONL corpus ingest with corrupt-line quarantine",
    "Warc.parseAll": "full-record WARC parse; queries read responses through readWithCorrupt",
    # state maintenance a deployment schedules between runs
    "Sketches.compactKmvState": "folds KMV sketch state at its retention horizon",
    "Sketches.compactHllState": "folds HLL sketch state",
    "Sketches.compactMgState": "folds Misra-Gries sketch state",
    "Sketches.compactHistState": "folds histogram sketch state",
    "Sketches.compactKllState": "folds KLL sketch state",
    "Sketches.kmvStateSketch": "reads KMV state under the compaction-k bound compactKmvState records",
    "Dedup.compactSignatureStateKeys": "folds signature state to the latest version per key",
    "VectorIndex.rebuildIfDrifted": "rebuilds the vector index when its centroids drift",
    "VectorIndex.calibrateNprobe": "picks nprobe for a sampled query workload",
    "IndexStore.upsert": "re-ingests changed documents into either index under one lease",
    # operators whose guard or plan shape is what their spec pins
    "Relational.transitiveClosure": "the quadratic pair list behind its node-count guard",
    "Relational.cpmSchedule": "the reference's stage-dependency schedule (test.mmd:52-58)",
    "Skew.saltedEquiJoin": "skew salting behind its key-salt guard",
    "TokenIndex.containmentJoinIndexedFiltered": "pushes a metadata predicate into the postings scan",
    "CorpusPipeline.writeRelease": "writes a release whose manifest is read back from the files",
    "Bpe.encodeUdf": "applies learned merges to new text; q103 checks training only",
    "AvOps.audioFeatures": "the WAV feature kernel; no fixture table holds audio",
    "AvOps.sampleFrames": "the byte-window frame fallback for payloads no demuxer claims",
    "ImageOps.gridBlob": "a spec fixture over private decode and grid helpers",
}
# Entry points named by the JVM, not by code.
ENTRY_POINTS = ("main",)
# A modifier that hides a def or a type from the rest of graft.
HIDDEN = re.compile(r"\b(?:private(?!\s*\[graft\])|protected)\b")
# An environment or system-property read, and the reads that fetch a
# platform fact rather than choose behaviour.
OPTION_READ = re.compile(r'\b(?:sys\.env|sys\.props|System\.getenv|System\.getProperty)\b[^"\n]*"([^"]+)"')
PLATFORM_FACTS = ("java.io.tmpdir", "java.vm.version")
# A SQL function registered by name.
REGISTERED = re.compile(r'FunctionIdentifier\s*\(\s*"(\w+)"')


def uncommented(src):
    """Comments blanked, string literals kept; newlines and offsets kept."""
    keep = lambda m: m.group(0) if m.group(0)[0] == '"' else re.sub(r"[^\n]", " ", m.group(0))
    return re.sub(r'"""(?:.|\n)*?"""|"(?:\\.|[^"\\\n])*"|/\*.*?\*/|//[^\n]*', keep, src, flags=re.S)


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
    that declaration is private (not `private[graft]`) or protected}. A `{` opens one when the text
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
            out[i] = bool(HIDDEN.search(head))
    return out


def declarations(rel, src):
    """A Decl for every `def` of `src`; `public` when it is not private
    (`private[graft]` is public here: any graft code may call it),
    protected or override and sits directly in an object, class or trait
    body that is itself public (not in a method)."""
    bodies = template_bodies(src)
    owner_at = owner_index(src, kind=True)
    defs = [(m.start(), m.group(1)) for m in re.finditer(r"\bdef\s+([\w$]+)", src)]
    out, stack, k = [], [], 0
    for i, ch in enumerate(src):
        while k < len(defs) and defs[k][0] == i:
            pos, name = defs[k]
            k += 1
            mods = src[max(src.rfind("\n", 0, pos), src.rfind("{", 0, pos), src.rfind(";", 0, pos)) + 1:pos]
            public = (bool(stack) and all(b in bodies and not bodies[b] for b in stack)
                      and not HIDDEN.search(mods) and not re.search(r"\boverride\b", mods)
                      and name not in ENTRY_POINTS)
            lo, hi = def_arity(src, src.index(name, pos + 3) + len(name))
            owner, obj = owner_at(pos)
            out.append(Decl(rel, pos, src.count("\n", 0, pos) + 1, owner, name, lo, hi, public, obj=obj))
        if ch == "{":
            stack.append(i)
        elif ch == "}" and stack:
            stack.pop()
    return out


def operators(root):
    """[(file, line, Owner.name, spec files reaching it)] for each public def
    in src/main that no src/main or perfbench/src use reaches, and for each
    registered SQL function that no src/main or perfbench/src string names
    outside a def of the first kind; and the same rows for the exempt ones."""
    texts, raw = {}, {}
    for g in GROUPS:
        for rel in scala_files(root, g):
            src = open(os.path.join(root, rel), encoding="utf-8").read()
            texts[rel], raw[rel] = (g, code_text(src)), uncommented(src)
    by_name, decls = {}, {}
    for rel in scala_files(root, "src/main"):
        decls[rel] = declarations(rel, texts[rel][1])
        for d in decls[rel]:
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
            bare = t[skip_type_args(t, m.end()):][:1] not in "({"
            reached, _ = scope.resolve(ds, m.group(1), qual, call_arity(t, m.end()), bare)
            for d in reached:
                uses.setdefault(id(d), set()).add((g, rel))
    rows, spec_only = [], set()
    for ds in by_name.values():
        for d in ds:
            hits = uses.get(id(d), set())
            if d.public and not any(g != "src/test" for g, _ in hits):
                where = f"{d.owner}.{d.name}" if d.owner else d.name
                rows.append((d.rel, d.line, where, sorted(r for _, r in hits)))
                spec_only.add(id(d))
    registered = {m.group(1): (rel, raw[rel].count("\n", 0, m.start()) + 1)
                  for rel in decls for m in REGISTERED.finditer(raw[rel])}
    def last_def(rel, pos):
        before = [d for d in decls.get(rel, ()) if d.pos < pos]
        return before[-1] if before else None
    for fn, (home, line) in registered.items():
        # a call: `call_function("fn", ...)` or `fn(...)` in SQL text
        call = re.compile(r"(?<![\w$])" + fn + r'(?=\s*\(|"\s*[,)])')
        users = [(texts[rel][0], rel, m.start()) for rel, text in raw.items() if rel != home
                 for m in call.finditer(text)]
        # a main use counts unless it sits in a def only specs reach
        if all(g == "src/test" or id(last_def(rel, pos)) in spec_only for g, rel, pos in users):
            rows.append((home, line, fn, sorted({rel for g, rel, _ in users if g == "src/test"})))
    found = [r for r in rows if r[2] not in OPERATOR_EXEMPT]
    return sorted(found), sorted(r for r in rows if r[2] in OPERATOR_EXEMPT)


def print_operators(root):
    found, exempt = operators(root)
    print(f"defs not referenced outside src/test {len(found)}")
    for rel, line, where, tests in found:
        print(f"{rel}:{line}  {where}  src/test: " + (", ".join(sorted({os.path.basename(t) for t in tests})) or "-"))
    print("exempt: " + ", ".join(where for _, _, where, _ in exempt))
    # an exemption whose def is gone or has gained a caller outside src/test
    stale = sorted(set(OPERATOR_EXEMPT) - {where for _, _, where, _ in exempt})
    print(f"stale exemptions {len(stale)}" + "".join(f"\n  {w}" for w in stale))

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
    reads = [(rel, key) for rel in scala_files(root, "src/main")
             for key in OPTION_READ.findall(uncommented(open(os.path.join(root, rel), encoding="utf-8").read()))
             if key not in PLATFORM_FACTS]
    print(f"option reads {len(reads)}")
    for rel, key in reads:
        print(f"  {rel}  {key}")
