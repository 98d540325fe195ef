#!/usr/bin/env python3
"""Dead-code check: print every top-level type and public member of
src/main that no entry point reaches, transitively.

Usage: python3 tools/unreached.py

Entry points (the roots):
  - graft.SparkEntry (its query map reaches every contract key) and every
    object with a `def main(` (Bench, Verify, PlanDump, ScaleSmoke, ...);
  - the EventQueue facade and its sinks;
  - the graftlake catalog, provider and procedures;
  - TrainingPipeline's public stages;
  - every type perfbench/src names (imports, qualified calls, class names
    in strings such as `format("graft.sources.v2.EventsV2Provider")`);
  - the classes registered under src/main/resources/META-INF/services.

A root type contributes all of its members. Any other member is reached
when a reached body refers to it: `Owner.name` anywhere, the bare name
inside its own type (or a type that extends it), or the bare name in a
file that imports it. Class and trait members are matched by name alone,
so the scan over-approximates what is reached. `override`, `implicit`,
`apply`/`unapply` members, and members that implement one declared by a
source supertype, are exempt: something other than a by-name call reaches
them. Live code can still show as unreached if Spark calls it by
reflection or through an external interface without `override`.
Comments are stripped before matching; string literals are kept, because
Spark resolves classes by name.

Reachability is computed twice: from every root, and again without the
probe mains (PROBE_ROOTS: ScaleSmoke). A probe main may run only what
some other root reaches; anything it alone keeps alive is a one-off form.

Output: one line per unreached item. An item on KEEP prints as `KEEP`
with its reason; anything else prints as `UNREACHED` and the exit status
is 1. A KEEP reason must begin with `reference:` or `test hook:`; any
other prints as `BAD KEEP`, also with exit status 1. Private members are
not reported. Each item only a probe main reaches prints as
`PROBE-ONLY`, also with exit status 1.
"""
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MAIN = os.path.join(ROOT, "src", "main", "scala")
PERF = os.path.join(ROOT, "perfbench", "src")
SERVICES = os.path.join(ROOT, "src", "main", "resources", "META-INF",
                        "services")

ROOT_TYPES = {
    "SparkEntry",
    # the facade and its sinks
    "EventQueue", "BufferedEventQueue", "StreamSink", "RetryingSink",
    "LocalSink", "InMemorySink", "StreamingQueueSink",
    # the graftlake catalog, provider and procedures
    "GraftLakeCatalog", "GraftLakeProvider", "GraftLakeProcedures",
    # the training pipeline's public stages
    "TrainingPipeline",
}

# Probe mains: roots for the scan, but nothing may be reached through
# them alone. A probe runs SparkEntry keys; a form only a probe reaches is
# printed as PROBE-ONLY.
PROBE_ROOTS = {"ScaleSmoke"}

# Unreached on purpose, Owner.member -> reason. Two kinds, and each
# reason names its kind first: `reference:` for a form that a remaining
# test checks reachable code against, `test hook:` for a probe a test
# observes internals through. Anything else only a test keeps alive is
# deleted with the tests whose subject it is; a reason of another kind
# prints `BAD KEEP` and fails the check.
KEEP_KINDS = ("reference:", "test hook:")
KEEP = {
    "Windows.windowCountDistinctSets":
        "reference: the collect_set form AggSwapSpec checks "
        "q_window_count_distinct against row for row",
    "SnapshotLake.readAtTag":
        "reference: LakeSinkSpec checks the V1 reader's `tag` option "
        "against it",
    "SnapshotLake.readBranch":
        "reference: BranchSpec reads each branch head through it",
    "SnapshotLake.readLatest":
        "reference: GraftLakeProviderSpec checks the V1 reader's latest "
        "read and GraftLakeCatalogSpec checks catalog SELECT against it",
    "SnapshotLake.audit":
        "reference: LakeSinkSpec checks it against q_snapshot_drift's "
        "output shape",
    "PipelineOps.ivfTopK":
        "reference: the seeded-centroid IVF that EmbedLshSpec checks "
        "q_ann_recall and q_ann_ivf against",
    "SnapshotLake.update":
        "reference: GraftLakeCatalogSpec checks SQL UPDATE (Spark's "
        "row-level rewrite through the catalog) against it",
    "SnapshotLake.merge":
        "reference: GraftLakeCatalogSpec checks SQL MERGE INTO (Spark's "
        "row-level rewrite through the catalog) against it",
    "RuntimeDirPruning.runtimePrunedDirs":
        "test hook: RuntimePruneSpec counts pruned dirs through it",
}

MODS = r"(?:(?:final|sealed|abstract|case|implicit|lazy|override|private|protected)(?:\[\w+\])?\s+)*"
TYPE_RE = re.compile(r"^" + MODS + r"(class|object|trait)\s+(\w+)")
MEMBER_RE = re.compile(r"^  " + MODS + r"(def|val|var|class|object|trait|type)\s+(\w+)")
EXEMPT = {"apply", "unapply", "main", "toString", "equals", "hashCode"}
IDENT = re.compile(r"[A-Za-z_]\w*")


def strip_comments(text):
    """Blank out // and /* */ comments, keeping string literals and line
    structure."""
    out, i, n = [], 0, len(text)
    while i < n:
        c = text[i]
        if text.startswith('"""', i):
            j = text.find('"""', i + 3)
            j = n if j < 0 else j + 3
            out.append(text[i:j]); i = j
        elif c == '"':
            j = i + 1
            while j < n and text[j] != '"' and text[j] != "\n":
                j += 2 if text[j] == "\\" else 1
            out.append(text[i:j + 1]); i = j + 1
        elif text.startswith("//", i):
            j = text.find("\n", i)
            i = n if j < 0 else j
        elif text.startswith("/*", i):
            j = text.find("*/", i + 2)
            j = n if j < 0 else j + 2
            out.append("\n" * text.count("\n", i, j)); i = j
        elif c == "'" and i + 2 < n and text[i + 2] == "'":
            out.append(text[i:i + 3]); i += 3
        else:
            out.append(c); i += 1
    return "".join(out)


class Def:
    def __init__(self, owner, name, kind, mods, path, line, body):
        self.owner, self.name, self.kind = owner, name, kind
        self.mods, self.path, self.line, self.body = mods, path, line, body

    @property
    def key(self):
        return f"{self.owner}.{self.name}" if self.owner else self.name

    @property
    def private(self):
        return "private" in self.mods or "protected" in self.mods


def imports_of(text):
    """(owner, names-or-None) for each `import a.b.Owner._` /
    `import a.b.Owner.{x, y}` / `import a.b.Owner.x` in a file."""
    out = []
    for m in re.finditer(r"^\s*import\s+([\w.]+?)\.(_|\{[^}]*\}|\w+)\s*$",
                         text, re.M):
        path, tail = m.group(1), m.group(2)
        owner = path.split(".")[-1]
        if tail == "_":
            out.append((owner, None))
        elif tail.startswith("{"):
            names = [p.split("=>")[0].strip() for p in tail[1:-1].split(",")]
            out.append((owner, set(names)))
        else:
            out.append((owner, {tail}))
    return out


def parse(path):
    text = strip_comments(open(path, encoding="utf-8").read())
    lines = text.split("\n")
    types, members = [], []
    starts = [i for i, l in enumerate(lines) if TYPE_RE.match(l)]
    for k, s in enumerate(starts):
        e = starts[k + 1] if k + 1 < len(starts) else len(lines)
        m = TYPE_RE.match(lines[s])
        kind, name = m.group(1), m.group(2)
        mods = lines[s][:m.start(1)]
        mstarts = [i for i in range(s + 1, e) if MEMBER_RE.match(lines[i])]
        head_end = mstarts[0] if mstarts else e
        types.append(Def(None, name, kind, mods, path, s + 1,
                         "\n".join(lines[s:head_end])))
        for j, ms in enumerate(mstarts):
            me = mstarts[j + 1] if j + 1 < len(mstarts) else e
            mm = MEMBER_RE.match(lines[ms])
            members.append(Def(name, mm.group(2), mm.group(1),
                               lines[ms][:mm.start(1)], path, ms + 1,
                               "\n".join(lines[ms:me])))
    return text, types, members


def main():
    files = sorted(os.path.join(d, f) for d, _, fs in os.walk(MAIN)
                   for f in fs if f.endswith(".scala"))
    types, members, file_text = [], [], {}
    for p in files:
        text, ts, ms = parse(p)
        file_text[p] = text
        types += ts
        members += ms
    type_names = {t.name for t in types}
    kinds = {}
    for t in types:
        kinds.setdefault(t.name, set()).add(t.kind)
    # supertypes named in each type's header (for inherited bare names)
    parents = {}
    for t in types:
        hdr = t.body.split("{", 1)[0]
        ext = re.split(r"\bextends\b", hdr, 1)
        if len(ext) == 2:
            parents.setdefault(t.name, set()).update(
                n for n in IDENT.findall(ext[1]) if n in type_names)
    file_imports = {p: imports_of(t) for p, t in file_text.items()}
    by_owner = {}
    for m in members:
        by_owner.setdefault(m.owner, []).append(m)

    def ancestors(name):
        seen, todo = set(), [name]
        while todo:
            n = todo.pop()
            if n in seen:
                continue
            seen.add(n)
            todo += parents.get(n, ())
        return seen

    # members that implement one declared by a source supertype (e.g. a
    # pack's `queries`): interface overrides, reached with their owner
    implements = {m.key for m in members if any(
        a != m.owner and any(x.name == m.name for x in by_owner.get(a, []))
        for a in ancestors(m.owner))}

    def reach_from(roots):
        reached = set()   # keys
        work = []         # (body, path, own type, own key)

        def reach(d):
            if d.key in reached:
                return
            reached.add(d.key)
            work.append((d.body, d.path, d.owner or d.name, d.key))

        def reach_type(name, whole=False):
            for t in types:
                if t.name == name:
                    reach(t)
            for m in by_owner.get(name, []):
                if whole or "override" in m.mods or "implicit" in m.mods \
                        or m.name in EXEMPT or m.key in implements:
                    reach(m)

        for r in sorted(roots):
            reach_type(r, whole=True)

        while work:
            body, path, own, own_key = work.pop()
            idents = set(IDENT.findall(body))
            quals = set(re.findall(r"\b(\w+)\s*\.\s*(\w+)", body))
            imps = file_imports.get(path, [])
            # types: any mention reaches the type (and its exempt members)
            for n in idents & type_names:
                reach_type(n)
            visible = ancestors(own) if own else set()
            for m in members:
                if m.key in reached or m.key == own_key \
                        or m.name not in idents:
                    continue
                is_object = kinds.get(m.owner) == {"object"}
                hit = (m.owner, m.name) in quals or m.owner in visible
                if not hit:
                    hit = any(o == m.owner and (ns is None or m.name in ns)
                              for o, ns in imps)
                if not hit and not is_object:
                    hit = m.owner in reached  # instance member, by name
                if hit:
                    reach(m)
                    if m.owner not in reached:
                        reach_type(m.owner)
        return reached

    roots = set(ROOT_TYPES)
    for t in types:
        if t.kind == "object" and any(m.name == "main" and m.kind == "def"
                                      for m in by_owner.get(t.name, [])):
            roots.add(t.name)
    if os.path.isdir(SERVICES):
        for f in os.listdir(SERVICES):
            for line in open(os.path.join(SERVICES, f)):
                if line.strip():
                    roots.add(line.strip().split(".")[-1])
    # perfbench imports whole types: each type it names is a root
    for d, _, fs in os.walk(PERF):
        for f in fs:
            if f.endswith(".scala"):
                t = strip_comments(open(os.path.join(d, f),
                                        encoding="utf-8").read())
                roots.update(set(IDENT.findall(t)) & type_names)
    reached = reach_from(roots)
    # what only a probe main reaches: a probe mode must run keys, not keep
    # a form alive that nothing else runs
    probe_only = reached - reach_from(roots - PROBE_ROOTS) - {
        d.key for d in types + members
        if d.name in PROBE_ROOTS or d.owner in PROBE_ROOTS}

    out, bad = [], 0
    for key, why in sorted(KEEP.items()):
        if not why.startswith(KEEP_KINDS):
            bad += 1
            print(f"BAD KEEP   {key} -- reason must begin with "
                  f"{' or '.join(KEEP_KINDS)}: {why}")
    for t in types:
        if t.name not in reached:
            out.append((t, t.name))
    for m in members:
        if m.owner in reached and m.key not in reached and not m.private:
            out.append((m, m.key))
    for d, key in sorted(out, key=lambda x: (x[0].path, x[0].line)):
        rel = os.path.relpath(d.path, ROOT)
        if key in KEEP:
            print(f"KEEP       {key}  ({rel}:{d.line}) -- {KEEP[key]}")
        else:
            bad += 1
            print(f"UNREACHED  {key}  ({rel}:{d.line})")
    stale = sorted(set(KEEP) - {k for _, k in out})
    for k in stale:
        bad += 1
        print(f"STALE KEEP {k} -- reached or gone; drop it from KEEP")
    for d in sorted((d for d in types + members if d.key in probe_only),
                    key=lambda d: (d.path, d.line)):
        bad += 1
        print(f"PROBE-ONLY {d.key}  ({os.path.relpath(d.path, ROOT)}:"
              f"{d.line}) -- only {'/'.join(sorted(PROBE_ROOTS))} reaches it")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
