#!/usr/bin/env python3
"""Operator-tree drift between two `graft.Explain` dumps.

For every `## <query>` section, compares only the tree lines under
`== Physical Plan ==` (the indented `+- Node (N)` outline that opens a
formatted plan), with `#id` expression-id suffixes stripped. A
refactor that should leave execution alone must leave every tree
identical; the detail blocks below the tree (column ids, temp-dir
paths, plan_id counters) differ between any two runs and are ignored.

Usage: python3 tools/plan_tree_diff.py <committed PLANS.md> <new plans>
Prints each differing (or added/removed) section with a unified diff
of its tree; exit 1 when any section differs.
"""
import difflib, re, sys

ID = re.compile(r"#\d+L?")


def trees(path):
    out, name, lines, in_tree = {}, None, [], False
    for line in open(path, encoding="utf-8"):
        line = line.rstrip("\n")
        if line.startswith("## "):
            if name is not None:
                out[name] = lines
            name, lines, in_tree = line[3:].strip(), [], False
        elif line == "== Physical Plan ==":
            in_tree = True
        elif in_tree:
            if not line.strip():
                in_tree = False
            else:
                lines.append(ID.sub("", line))
    if name is not None:
        out[name] = lines
    return out


def main(old_path, new_path):
    old, new = trees(old_path), trees(new_path)
    differing = []
    for q in sorted(set(old) | set(new)):
        a, b = old.get(q), new.get(q)
        if a == b:
            continue
        differing.append(q)
        print(f"## {q}: " + ("added" if a is None else
                             "removed" if b is None else "tree differs"))
        for d in difflib.unified_diff(a or [], b or [], lineterm="", n=1):
            print("   " + d)
    print(f"plan trees: {len(set(old) | set(new)) - len(differing)} identical, "
          f"{len(differing)} differ")
    return 1 if differing else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
