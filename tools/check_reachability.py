#!/usr/bin/env python3
"""List library object members that no product code reaches.

Every non-private member of a top-level object in the library packages
graft.{ext,operators,functions,graph,sources,plans} must be referenced
from product code: src/main (any package) or perfbench/harness. A test
alone does not count.

A reference is
  * `Obj.name`, where `Obj` is the object's name or an import alias of it
    (`import graft.functions.{HashFunctions => H}` makes `H.name` count), or
  * an unqualified `name` in the member's own file, or in a file that
    imports it (`import ...Obj._`, `import ...Obj.{name}`, `import ...Obj.name`).
References inside the member's own body (recursion, overloads) do not
count. `apply` is reached wherever the object itself is named.

Comments (nested `/* */` included) and string literals are stripped before
the scan, keeping `$name` and `${...}` inside interpolated strings, so a
name that appears only in a comment or a message is not a reference.

The check is one pass: a member reached only from another unreached member
counts as reached, and shows up once that caller is deleted.

Usage: python3 tools/check_reachability.py [repo_root]
Prints one line per unreached member and exits 1 when there is any.
"""
import os
import re
import sys

LIBRARY_PACKAGES = ("ext", "operators", "functions", "graph", "sources", "plans")
PRODUCT_ROOTS = ("src/main/scala", "perfbench/harness")

# "Obj.member" -> why it stays without a product caller.
ALLOWLIST = {
    "Dedup.stageSignatures":
        "writes the staged reference that CorpusStream.dedupIngest reads; "
        "the staging is produced outside the streaming entry point",
}

IDENT = r"[A-Za-z_][A-Za-z0-9_]*"
MEMBER_INDENT = "  "
MEMBER_RE = re.compile(
    r"^  ((?:(?:final|@\w+|inline|override|implicit|private(?:\[\w+\])?|"
    r"protected(?:\[\w+\])?|lazy)\s+)*)(def|val|var)\s+(" + IDENT + r")")
OBJECT_RE = re.compile(
    r"^((?:(?:private|protected)(?:\[\w+\])?\s+)?)(?:case\s+)?object\s+(" + IDENT + r")")


def strip_scala(src):
    """Blank out comments and string literals, keeping line structure and
    the code inside `${...}` / `$name` of interpolated strings."""
    out = []
    i, n = 0, len(src)

    def blank(s):
        return "".join("\n" if c == "\n" else " " for c in s)

    def scan_interp_expr(j):
        # j points just after "${"; return index after the matching "}".
        depth = 1
        start = j
        while j < n and depth:
            c = src[j]
            if c == "{":
                depth += 1
            elif c == "}":
                depth -= 1
            elif c == '"':
                # a nested string inside the expression
                k = skip_string(j, src[j - 1:j].isalnum())
                j = k
                continue
            j += 1
        return start, j

    def skip_string(j, interpolated):
        """Return the index after the string literal starting at j."""
        triple = src.startswith('"""', j)
        q = '"""' if triple else '"'
        j += len(q)
        while j < n:
            if triple:
                if src.startswith('"""', j):
                    j += 3
                    while j < n and src[j] == '"':
                        j += 1
                    return j
            else:
                if src[j] == "\\":
                    j += 2
                    continue
                if src[j] == '"' or src[j] == "\n":
                    return j + 1
            if interpolated and src[j] == "$" and j + 1 < n and src[j + 1] == "{":
                _, j = scan_interp_expr(j + 2)
                continue
            j += 1
        return j

    def emit_string(j, interpolated):
        """Emit a blanked string literal from j, keeping interpolations."""
        triple = src.startswith('"""', j)
        q = '"""' if triple else '"'
        out.append(" " * len(q))
        j += len(q)
        while j < n:
            if triple:
                if src.startswith('"""', j):
                    k = j + 3
                    while k < n and src[k] == '"':
                        k += 1
                    out.append(" " * (k - j))
                    return k
            else:
                if src[j] == "\\":
                    out.append(blank(src[j:j + 2]))
                    j += 2
                    continue
                if src[j] == '"' or src[j] == "\n":
                    out.append(blank(src[j]))
                    return j + 1
            if interpolated and src[j] == "$" and j + 1 < n:
                if src[j + 1] == "{":
                    s, e = scan_interp_expr(j + 2)
                    out.append("  ")
                    out.append(strip_scala(src[s:e - 1]))
                    out.append(" ")
                    j = e
                    continue
                m = re.match(IDENT, src[j + 1:j + 1 + 256])
                if m and src[j + 1] != "$":
                    out.append(" " + m.group(0))
                    j += 1 + len(m.group(0))
                    continue
                if src[j + 1] == "$":
                    out.append("  ")
                    j += 2
                    continue
            out.append(blank(src[j]))
            j += 1
        return j

    while i < n:
        c = src[i]
        if src.startswith("//", i):
            k = src.find("\n", i)
            k = n if k < 0 else k
            out.append(" " * (k - i))
            i = k
        elif src.startswith("/*", i):
            depth, k = 0, i
            while k < n:
                if src.startswith("/*", k):
                    depth += 1
                    k += 2
                elif src.startswith("*/", k):
                    depth -= 1
                    k += 2
                    if depth == 0:
                        break
                else:
                    k += 1
            out.append(blank(src[i:k]))
            i = k
        elif c == '"':
            prev = src[i - 1] if i > 0 else " "
            interpolated = prev.isalnum() or prev == "_"
            i = emit_string(i, interpolated)
        elif c == "'":
            # char literal ('a', '\n', 'A'); a symbol literal has no close quote
            m = re.match(r"'(\\u[0-9a-fA-F]{4}|\\.|[^'\\\n])'", src[i:i + 8])
            if m:
                out.append(" " * len(m.group(0)))
                i += len(m.group(0))
            else:
                out.append(c)
                i += 1
        else:
            out.append(c)
            i += 1
    return "".join(out)


IMPORT_RE = re.compile(r"^\s*import\s+(.*)$")


def parse_imports(text):
    """Return (wildcard_objs, named {obj: set(names)}, aliases {alias: obj})
    from the import lines of stripped source, and the text with those
    lines blanked."""
    wild, named, aliases = set(), {}, {}
    lines = text.split("\n")
    for idx, line in enumerate(lines):
        m = IMPORT_RE.match(line)
        if not m:
            continue
        lines[idx] = ""
        for clause in split_top(m.group(1)):
            clause = clause.strip()
            if "{" in clause:
                prefix, sel = clause.split("{", 1)
                path = [p for p in prefix.strip().rstrip(".").split(".") if p]
                sels = [s.strip() for s in sel.rstrip("}").split(",")]
            else:
                parts = [p for p in clause.split(".") if p]
                path, sels = parts[:-1], parts[-1:]
            owner = path[-1] if path else None
            for s in sels:
                if "=>" in s:
                    src_name, dst = [x.strip() for x in s.split("=>")]
                    if dst != "_":
                        aliases[dst] = src_name
                        if owner:
                            named.setdefault(owner, set()).add(src_name)
                elif s == "_":
                    if owner:
                        wild.add(owner)
                elif owner:
                    named.setdefault(owner, set()).add(s)
    return wild, named, aliases, "\n".join(lines)


def split_top(s):
    parts, depth, cur = [], 0, []
    for c in s:
        if c == "{":
            depth += 1
        elif c == "}":
            depth -= 1
        if c == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(c)
    parts.append("".join(cur))
    return parts


def scala_files(root, rel):
    base = os.path.join(root, rel)
    for d, _, fs in os.walk(base):
        for f in sorted(fs):
            if f.endswith(".scala"):
                yield os.path.join(d, f)


def library_members(text):
    """[obj, name, first_line, last_line] for the non-private def/val/var
    members of each top-level object in stripped `text`."""
    lines = text.split("\n")
    obj, obj_private = None, False
    members = []
    for idx, line in enumerate(lines):
        m = OBJECT_RE.match(line)
        if m:
            obj, obj_private = m.group(2), bool(m.group(1).strip())
            continue
        if line[:1].strip():  # any other column-0 line ends the object
            obj = None
            continue
        if obj is None or obj_private:
            continue
        mm = MEMBER_RE.match(line)
        if not mm:
            continue
        mods = mm.group(1)
        if re.search(r"\b(private|protected|override|implicit)\b", mods):
            continue
        members.append([obj, mm.group(3), idx, idx])
    # a member's body runs until the next line at member indent or less
    for mem in members:
        j = mem[2] + 1
        while j < len(lines):
            ln = lines[j]
            if ln.strip() and (not ln.startswith(MEMBER_INDENT + " ")):
                break
            j += 1
        mem[3] = j - 1
    return members


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.dirname(
        os.path.dirname(os.path.abspath(__file__)))
    files = {}
    for rel in PRODUCT_ROOTS:
        for p in scala_files(root, rel):
            with open(p, encoding="utf-8") as fh:
                stripped = strip_scala(fh.read())
            wild, named, aliases, body = parse_imports(stripped)
            files[p] = (wild, named, aliases, body)

    lib_dirs = tuple(os.path.join(root, "src/main/scala/graft", pkg) + os.sep
                     for pkg in LIBRARY_PACKAGES)
    members = []
    for p, (_, _, _, body) in files.items():
        if p.startswith(lib_dirs):
            for obj, name, lo, hi in library_members(body):
                members.append((p, obj, name, lo, hi))

    # overloads share one name: their bodies are all "own body"
    own_spans = {}
    for p, obj, name, lo, hi in members:
        own_spans.setdefault((p, obj, name), []).append((lo, hi))

    def masked(p, spans):
        lines = files[p][3].split("\n")
        for lo, hi in spans:
            lines[lo:hi + 1] = [""] * (hi + 1 - lo)
        return "\n".join(lines)

    def reached(p_def, obj, name):
        spans = own_spans[(p_def, obj, name)]
        for p, (wild, named, aliases, body) in files.items():
            if p == p_def:
                body = masked(p, spans)
            quals = {obj} | {a for a, o in aliases.items() if o == obj}
            if name == "apply" and p != p_def and any(
                    re.search(r"(?<![\w.])" + q + r"\b(?!\s*\.)", body)
                    for q in quals):
                return True
            if any(re.search(r"(?<!\w)" + re.escape(q) + r"\s*\.\s*"
                             + re.escape(name) + r"\b", body) for q in quals):
                return True
            if (p == p_def or obj in wild or name in named.get(obj, set())) \
                    and re.search(r"(?<![\w.])" + re.escape(name) + r"\b", body):
                return True
        return False

    seen, hits = set(), []
    for p, obj, name, lo, hi in members:
        key = (p, obj, name)
        if key in seen:
            continue
        seen.add(key)
        if f"{obj}.{name}" in ALLOWLIST:
            continue
        if not reached(p, obj, name):
            hits.append(f"{os.path.relpath(p, root)}:{lo + 1}: {obj}.{name}")
    for h in hits:
        print(h)
    print(f"{len(hits)} unreached member(s); "
          f"{len(ALLOWLIST)} allowlisted", file=sys.stderr)
    sys.exit(1 if hits else 0)


if __name__ == "__main__":
    main()
