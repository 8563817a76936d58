#!/usr/bin/env python3
"""List public library functions that only the specs reach.

Usage: python3 tools/spec_only_defs.py [repo_root]

Scans every public `def` in src/main (not `private`, `protected` or
`override`) and looks for its name, as a whole word, in the code of
src/main, cosmobench/src and tools. Comments and the bodies of Scala
string literals are blanked first, so a scaladoc mention, a `[[link]]`
or a word in a message or table name is not a caller; an interpolated
`$name` or `${...}` is kept. Python sources keep their strings. A name
whose only occurrences are its own definitions has no caller outside
src/test.

When two objects (or classes or traits) define the same public name, a
bare word cannot tell their callers apart: `TimeFns.mjdToTs` is no call
of `GraftExtensions.mjdToTs`. Such a name is checked per owner, as
`Owner.name`: a use counts only if it is qualified with the owner
(`Owner.name`, a line break before the dot allowed) or is an unqualified
use in the owner's own file. `apply` is exempt.

Prints each such name with its file and line. Names on KEEP (below) are
reported with their reason and do not fail the run; any other unused
name makes the exit status 1. A name checked per owner is kept as
`Owner.name`.
"""
import os
import re
import sys

# name -> why it stays although no library code calls it.
KEEP = {
    "cosineHof": "reference implementation NativeExprSpec compares the "
                 "native cosine expression against",
    "simhashFromHashes": "reference implementation NativeExprSpec compares "
                         "the native simhash expression against",
    "trigrams": "reference implementation NativeExprSpec compares the "
                "native trigram expression against",
    "applyMerge": "reference implementation NativeExprSpec compares the "
                  "native BPE merge expression against",
    "acqSlewStats": "the reference's ACQ slew monitor computation "
                    "(acq_monitors.py), pinned by MonitorsSpec",
    "darkRate": "the reference's dark-rate monitor computation, pinned by "
                "MonitorsSpec",
    "registerExtended": "registers the reference's telemetry and jitter "
                        "monitors next to the 12 cadence monitors",
    "entry": "smoke entry point called from outside this build: "
             "SparkEntry.entry runs q1_agg on sf0.001 and its caller checks "
             "rows > 0",
    "dsModelDF": "Dawid-Skene's stored model, the train half of the "
                 "train/serve split the other learned models have; "
                 "AnnotateSpec pins dsServe(dsModelDF at r) to dawidSkene at "
                 "r+1 and MergeStreamSpec serves it per micro-batch",
    "dsServe": "the serve half of dsModelDF's train/serve split",
    "ivfKnobsForScale": "measured IVF sizing rule (constant cell size) for "
                        "ivfAssign past the registry's fixture scale; "
                        "ScaleGuardSpec's candidate bound certifies it",
    "probeKnobsForScale": "measured multi-probe sizing rule for lshBands "
                          "past the registry's fixture scale (it also "
                          "reaches lshKnobsForScale, the bands rule); "
                          "ScaleGuardSpec's all-pairs guard certifies both",
    "hamming1Probes": "the probe-side bucket set probeKnobsForScale sizes",
}

# `def main(args)` is started by sbt runMain, not called.
ENTRY_POINTS = {"main"}
# Names too generic to check per owner: `Owner(...)` calls `apply`.
OWNER_EXEMPT = {"apply"}

SCAN_ROOTS = ("src/main", "cosmobench/src", "tools")
SELF = os.path.join("tools", "spec_only_defs.py")

DEF_RE = re.compile(
    r"^[ \t]*((?:(?:final|implicit|inline|private(?:\[\w+\])?|protected"
    r"(?:\[\w+\])?|override|@\w+)\s+)*)def\s+([A-Za-z_][A-Za-z0-9_]*)",
    re.M)
CHAR_RE = re.compile(r"'(\\.|[^\\'\n])'")  # a Scala char literal such as '"'
OWNER_RE = re.compile(r"\b(object|class|trait|def|val|var)\s+([A-Za-z_][A-Za-z0-9_]*)")


def blank_string(body, interpolated):
    """Blank a Scala string literal's body, keeping its line breaks and,
    in an interpolated string, its `$name` and `${...}` expressions."""
    out = []
    i, n = 0, len(body)
    while i < n:
        c = body[i]
        if interpolated and body.startswith("$$", i):
            out.append("  ")
            i += 2
        elif interpolated and body.startswith("${", i):
            depth, j = 1, i + 2
            while j < n and depth:
                depth += {"{": 1, "}": -1}.get(body[j], 0)
                j += 1
            out.append(body[i:j])
            i = j
        elif interpolated and c == "$":
            m = re.match(r"\$[A-Za-z_][A-Za-z0-9_]*", body[i:])
            if m:
                out.append(m.group(0))
                i += len(m.group(0))
            else:
                out.append(" ")
                i += 1
        else:
            out.append("\n" if c == "\n" else " ")
            i += 1
    return "".join(out)


def strip_scala(src):
    """Blank out // and (nested) /* */ comments and string bodies.

    A "/*" or "//" inside a string literal, such as a glob path, is part of
    the string and does not open a comment. A name that occurs only as a
    word inside a string is not a use; an interpolated `$name` or `${...}`
    is. Line breaks are kept, so line numbers stay valid.
    """
    out = []
    i, n = 0, len(src)
    depth = 0
    while i < n:
        c = src[i]
        if depth:
            if src.startswith("/*", i):
                depth += 1
                i += 2
            elif src.startswith("*/", i):
                depth -= 1
                i += 2
            else:
                out.append("\n" if c == "\n" else " ")
                i += 1
            continue
        interpolated = i > 0 and (src[i - 1].isalnum() or src[i - 1] == "_")
        if src.startswith('"""', i):
            j = src.find('"""', i + 3)
            j = n if j < 0 else j + 3
            while j < n and src[j] == '"':
                j += 1
            out.append('"""' + blank_string(src[i + 3:j - 3], interpolated) + '"""')
            i = j
        elif c == '"':
            j = i + 1
            while j < n and src[j] not in '"\n':
                j += 2 if src[j] == "\\" else 1
            out.append('"' + blank_string(src[i + 1:j], interpolated) + '"')
            i = j + 1
        elif c == "'" and CHAR_RE.match(src, i):
            j = CHAR_RE.match(src, i).end()
            out.append(src[i:j])
            i = j
        elif src.startswith("//", i):
            j = src.find("\n", i)
            i = n if j < 0 else j
        elif src.startswith("/*", i):
            depth = 1
            i += 2
        else:
            out.append(c)
            i += 1
    return "".join(out)


def strip_python(src):
    """Blank out # comments outside string literals."""
    out = []
    i, n = 0, len(src)
    while i < n:
        c = src[i]
        if src.startswith('"""', i) or src.startswith("'''", i):
            q = src[i:i + 3]
            j = src.find(q, i + 3)
            j = n if j < 0 else j + 3
            out.append(src[i:j])
            i = j
        elif c in "\"'":
            j = i + 1
            while j < n and src[j] not in c + "\n":
                j += 2 if src[j] == "\\" else 1
            out.append(src[i:j + 1])
            i = j + 1
        elif c == "#":
            j = src.find("\n", i)
            i = n if j < 0 else j
        else:
            out.append(c)
            i += 1
    return "".join(out)


def owners(text):
    """For each `{` ... `}` block of blanked Scala source, the name of the
    object, class or trait whose body it is (None for any other block).
    Returns a function from a position to its innermost named owner."""
    spans, stack, last = [], [], 0
    for i, c in enumerate(text):
        if c == "{":
            head = list(OWNER_RE.finditer(text, last, i))
            kind = head[-1].group(1) if head else None
            stack.append((i, head[-1].group(2)
                          if kind in ("object", "class", "trait") else None))
            last = i + 1
        elif c == "}":
            if stack:
                start, name = stack.pop()
                if name:
                    spans.append((start, i, name))
            last = i + 1
        elif c == ";":
            last = i + 1

    def owner_at(pos):
        inner = [s for s in spans if s[0] < pos < s[1]]
        return max(inner)[2] if inner else None
    return owner_at


def owner_uses(code, owner, name, files):
    """Uses of `owner.name`: qualified anywhere, or unqualified (no dot
    before it) in one of the owner's own files, its definitions excluded."""
    qualified = re.compile(r"\b%s\s*\.\s*%s\b" % (owner, name))
    # a dot or `def` before the name is consumed with it, so only bare
    # uses leave the prefix group empty
    bare = re.compile(r"(\.\s*|\bdef\s+)?\b%s\b" % name)
    n = 0
    for rel, text in code.items():
        n += len(qualified.findall(text))
        if rel in files:
            n += sum(1 for m in bare.finditer(text) if m.group(1) is None)
    return n


def sources(root):
    for base in SCAN_ROOTS:
        for d, dirs, files in os.walk(os.path.join(root, base)):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            for f in sorted(files):
                path = os.path.join(d, f)
                rel = os.path.relpath(path, root)
                if rel == SELF:
                    continue
                if f.endswith(".scala"):
                    yield rel, strip_scala(open(path).read())
                elif f.endswith(".py"):
                    yield rel, strip_python(open(path).read())


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else \
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = dict(sources(root))
    defs = {}  # name -> [(file, line, owner)]
    for rel, text in code.items():
        if not rel.startswith("src/main/"):
            continue
        owner_at = owners(text)
        for m in DEF_RE.finditer(text):
            mods, name = m.group(1), m.group(2)
            if name in ENTRY_POINTS or \
                    re.search(r"\b(private|protected|override)\b", mods):
                continue
            line = text.count("\n", 0, m.start()) + 1
            defs.setdefault(name, []).append((rel, line, owner_at(m.start())))

    words = {}
    for text in code.values():
        for w in re.findall(r"[A-Za-z_][A-Za-z0-9_]*", text):
            words[w] = words.get(w, 0) + 1
    all_sites = {}  # every def of a name, any modifier, counts as a site
    for rel, text in code.items():
        for m in DEF_RE.finditer(text):
            all_sites[m.group(2)] = all_sites.get(m.group(2), 0) + 1

    unused, where = [], {}
    for n, sites in defs.items():
        by_owner = {}
        for f, l, o in sites:
            by_owner.setdefault(o, []).append((f, l))
        if len(by_owner) > 1 and n not in OWNER_EXEMPT and None not in by_owner:
            for o, osites in by_owner.items():
                files = {f for f, _ in osites}
                if owner_uses(code, o, n, files) == 0:
                    unused.append(f"{o}.{n}")
                    where[f"{o}.{n}"] = osites
        elif words.get(n, 0) <= all_sites[n]:
            unused.append(n)
            where[n] = [(f, l) for f, l, _ in sites]
    unused.sort()
    kept = [n for n in unused if n in KEEP]
    bad = [n for n in unused if n not in KEEP]
    for n in kept:
        print(f"keep    {n:28s} {KEEP[n]}")
    for n in bad:
        at = ", ".join(f"{f}:{l}" for f, l in where[n])
        print(f"UNUSED  {n:28s} {at}")
    stale = sorted(set(KEEP) - set(unused))
    for n in stale:
        print(f"note    {n:28s} on the keep-list but has a caller now")
    print(f"{len(unused)} spec-only public defs: {len(kept)} kept, "
          f"{len(bad)} not kept")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
